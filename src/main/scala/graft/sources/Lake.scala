package graft.sources

import java.util.UUID

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot/manifest lakehouse on plain parquet — the storage half of
  * MERGE that [[graft.ops.Relational.upsert]] (the dataflow half) leaves
  * open. The shape every open table format shares, built from public
  * primitives only:
  *
  *  - DATA FILES are immutable parquet under `data/`, each clustered to a
  *    disjoint merge-key range (`repartitionByRange` at write), with
  *    per-file (rows, minKey, maxKey) stats in the manifest — so a MERGE
  *    prunes to the files whose key range the updates actually touch,
  *    exactly how Delta/Iceberg data skipping works;
  *  - a MANIFEST per snapshot (`_manifests/v%05d.json`) lists the files
  *    that ARE that version. Manifests are metadata-sized (one entry per
  *    file), written to a dot-temp name and RENAMED into place: readers
  *    never observe a partial manifest, and the rename refuses an
  *    existing destination, which is the optimistic-concurrency commit —
  *    two writers racing to version N+1 produce one winner and one clean
  *    failure (HDFS rename is atomic; S3 deployments put a lock service
  *    or conditional-put behind this same seam);
  *  - MERGE is copy-on-write: unhit files carry over into the new
  *    manifest BY REFERENCE (never copied, never touched — time travel to
  *    the previous snapshot stays free), hit files are rewritten as
  *    survivors (anti-join against updates) plus the update rows.
  *
  * Scale posture: the shuffled volume of a merge is |updates| + |rows in
  * hit files| — for key-local updates that is a tiny slice of the table;
  * the manifest list and file-stats join are metadata-sized and
  * broadcast. Reads of a snapshot are a plain multi-file parquet scan, so
  * all pushdown/pruning applies unchanged.
  */
object Lake {

  /** One data file's manifest entry. minKey/maxKey are inclusive bounds of
    * the (numeric) merge key — the pruning stats. `cols` optionally carries
    * the same [min,max] bounds for EXTRA numeric columns (declared at
    * [[create]]) — the Delta-style per-column file statistics that let
    * [[LakeManifestPrune]] skip files on predicates over non-key columns.
    * Whether a second column actually prunes depends on layout: a column
    * correlated with the clustering key gets tight disjoint ranges; an
    * uncorrelated one spans every file and prunes nothing (that interleaved
    * case is what the Z-order lane exists for). */
  case class FileEntry(path: String, rows: Long, minKey: Long, maxKey: Long,
                       cols: Map[String, (Long, Long)] = Map.empty,
                       scols: Map[String, (String, String)] = Map.empty,
                       nulls: Map[String, Long] = Map.empty)

  /** Truncated-string bound helpers (the Iceberg convention): the LOWER
    * bound truncates plainly (a prefix is ≤ the value), but a truncated
    * UPPER bound would lie small — so the upper bound is the truncated
    * prefix with its last character incremented (a string CEILING). A
    * prefix that cannot increment (all chars at Char.MaxValue) has no
    * finite ceiling → None, the column goes unbounded for that file.
    * Stats are kept for pure-ASCII bounds only: Spark's min/max order
    * strings by UTF-8 BYTES while the driver compares java Strings by
    * UTF-16 code units — identical on ASCII, divergent past the BMP, and
    * a divergent bound could prune a file that holds matches. */
  private[sources] val StrBoundLen = 16

  /** Default rows-per-file target for [[LakeTable]] write sizing
    * (`spark.graft.lake.targetFileRows`): ~4M rows ≈ a few hundred MB of
    * typical columnar data — the Delta/Iceberg target-file-size ballpark,
    * expressed in rows because row counts are known BEFORE a write plans
    * (byte sizes only after). */
  private[graft] val DefaultTargetFileRows: Long = 4L * 1024 * 1024

  private[graft] def strLower(s: String): String = s.take(StrBoundLen)

  private[graft] def strUpper(s: String): Option[String] =
    if (s.length <= StrBoundLen) Some(s)
    else {
      val t = s.take(StrBoundLen)
      var i = t.length - 1
      while (i >= 0 && t.charAt(i) == Char.MaxValue) i -= 1
      if (i < 0) None else Some(t.substring(0, i) + (t.charAt(i) + 1).toChar)
    }

  private[graft] def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  /** Fresh lake root under the JVM tempdir, registered for recursive
    * cleanup at JVM exit — every query invocation builds its own lake, so
    * a regenerated corpus can never serve stale table state (the staged-
    * media-cache lesson). */
  /** Operational introspection of a RUNNING (or stopped) change-feed
    * stream from its checkpoint source-metadata dir (`<checkpoint>/
    * sources/0`) — the SQL surface is `graft_lake_stream_detail(root,
    * metadataPath)`. Reports the pinned start version, the admission
    * high-water mark, and — the schema-drift signal — whether the
    * stream's PINNED data schema has fallen behind the table's current
    * one (mid-stream ADD COLUMN / type widening / rename / drop), which
    * the feed by contract does not adopt until restart. Metadata-only:
    * reads three tiny markers plus the latest manifest. Checkpoints
    * created before schema pinning report `stream_schema_behind` null
    * (unknown). */
  def streamDetail(spark: SparkSession, root: String,
                   metadataPath: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val mp = new Path(metadataPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(name: String): Option[String] =
      readMarkerFile(fs, new Path(mp, name))
    val t = new LakeTable(spark, root)
    val m = t.manifest(t.latestVersion)
    val rev = m.columnMap.map(_.swap)
    val current: Map[String, String] = m.schemaDdl
      .map(d => StructType.fromDDL(d).fields
        .map(f => rev.getOrElse(f.name, f.name) -> f.dataType.sql).toMap)
      .getOrElse(Map.empty)
    val pinned = marker("graft-schema")
    val (behind, detail) = pinned match {
      case None => (None, "") // pre-pinning checkpoint: unknown
      case Some(ddl) =>
        val p = StructType.fromDDL(ddl).fields
          .map(f => f.name -> f.dataType.sql).toMap
        val added = current.keySet.diff(p.keySet).toSeq.sorted
        val gone = p.keySet.diff(current.keySet).toSeq.sorted
        val changed = p.keySet.intersect(current.keySet)
          .filter(n => p(n) != current(n)).toSeq.sorted
        val parts = Seq(
          if (added.nonEmpty) Some(s"added: ${added.mkString(",")}") else None,
          if (gone.nonEmpty) Some(s"removed/renamed: ${gone.mkString(",")}")
          else None,
          if (changed.nonEmpty) Some(s"retyped: ${changed.mkString(",")}")
          else None).flatten
        (Some(parts.nonEmpty), parts.mkString("; "))
    }
    spark.createDataFrame(Seq((
      marker("graft-start").map(_.toInt).getOrElse(-1),
      marker("graft-committed").getOrElse(""),
      t.latestVersion,
      behind.map(java.lang.Boolean.valueOf).orNull: java.lang.Boolean,
      detail)))
      .toDF("start_version", "high_water_offset", "table_version",
        "stream_schema_behind", "behind_detail")
  }

  /** Read a small text marker file, None when absent — the ONE reader
    * for stream-checkpoint markers ([[LakeChangeFeedSource]] writes and
    * reads them; [[streamDetail]] inspects them), so the marker protocol
    * cannot silently fork between writer and operational surface. */
  private[sources] def readMarkerFile(fs: org.apache.hadoop.fs.FileSystem,
                                      p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }

  /** The hive-partition column names a data file's relative subpath
    * encodes, in directory order — the file's LAYOUT-ERA signature under
    * partition-spec evolution (empty for flat files). */
  private[sources] def hiveSig(path: String): Seq[String] =
    path.split('/').dropRight(1).toSeq
      .filter(_.contains('=')).map(_.takeWhile(_ != '='))

  private[graft] def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }))
    dir.toString
  }

  /** Gated lane: storage-level COW MERGE whose post-merge relation must
    * equal the in-memory upsert oracle. Build a lake from `orders`
    * (8 key-range-clustered files), MERGE updates (every key ≡ 0 mod 100
    * gets priority '0-UPDATED') plus inserts (the same rows re-keyed
    * +100 000 000 as '9-INSERTED'), then aggregate the NEW snapshot by
    * priority. The DuckDB oracle states the same relation over the raw
    * table — if any COW step dropped, duplicated, or failed to replace a
    * row, the counts diverge. Time travel, pruning, and commit atomicity
    * are spec-gated (`LakeSpec` — a stream can't exercise them from SQL). */
  def lakeMergeCow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    val hits = o.filter(col("o_orderkey") % 100 === 0)
    val updates = hits.withColumn("o_orderpriority", lit("0-UPDATED"))
      .unionByName(hits
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("9-INSERTED")))
    t.merge(updates)
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: METADATA-ONLY partition-spec evolution. Create orders
    * partitioned by o_orderstatus, evolve the spec to o_orderpriority
    * (zero data movement — the commit touches no files), append a
    * re-keyed batch under the NEW layout, then MERGE an update that
    * rewrites OLD-era files under the new spec. The final aggregate
    * filters on the OLD partition column across all three file eras —
    * old files answer from hive directories, new files from data bytes.
    * The oracle replays the same row algebra on the raw table. */
  def lakePartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 4,
      partitionBy = Seq("o_orderstatus"))
    t.alterPartitioning(Seq("o_orderpriority"))
    t.insertAll(o.filter(col("o_orderkey") % 100 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
    t.merge(o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderpriority", lit("0-UPDATED")))
    def agg(phase: String): DataFrame =
      t.read().filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_orderkey").cast("long").as("sum_keys"))
        .withColumn("phase", lit(phase))
    val evolvedPhase = agg("evolved")
    // OPTIMIZE MIGRATE retires the evolution's debt: only the old-era
    // files rewrite, and the snapshot is single-layout again —
    // layout-only, so the aggregate must not move
    t.compactMigrate()
    evolvedPhase.unionByName(agg("migrated"))
      .select("phase", "o_orderpriority", "n_orders", "sum_keys")
      .orderBy("phase", "o_orderpriority")
  }

  /** Gated lane: the KEYLESS append-log lifecycle — create from one
    * batch, append two more (the third deliberately RE-APPENDS rows: an
    * append log admits repeats, there is no PK probe), predicate COW
    * delete, full compact; phases read back via time travel so every
    * commit's snapshot is checked, not just the final one. The oracle
    * replays the same batch algebra over the raw events table. Scale
    * shape: appends are adds-only commits (zero reads of existing
    * data), the delete rewrites only files holding matching rows (one
    * column-pruned hit scan), compaction is a layout-only rewrite. */
  def lakeKeyless(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val t = createAppendLog(spark, freshRoot(),
      e.filter(col("event_id") % 3 === 0), 4, statsCols = Seq("user_id"))
    t.insertAll(e.filter(col("event_id") % 3 === 1))
    t.insertAll(e.filter(col("event_id") % 3 === 2)
      .unionByName(e.filter(col("event_id") % 300 === 0))) // duplicates OK
    val vAppended = t.latestVersion
    t.deleteWhere(col("event_type") === "error" && col("value") < 5.0)
    val vDeleted = t.latestVersion
    t.compact(2)
    def agg(df: DataFrame, phase: String): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("event_id").cast("long").as("sum_ids"))
        .withColumn("phase", lit(phase))
    agg(t.snapshot(vAppended), "appended")
      .unionByName(agg(t.snapshot(vDeleted), "deleted"))
      .unionByName(agg(t.read(), "compacted"))
      .select("phase", "event_type", "n_events", "sum_ids")
      .orderBy("phase", "event_type")
  }

  /** Gated lane: storage-level COW DELETE (the erasure-cascade shape at
    * the table layer — GDPR delete as a committed snapshot, not a view).
    * Delete every key ≡ 0 mod 100 from an orders lake, then aggregate the
    * post-delete snapshot; the oracle filters the raw table the same way.
    * A file whose rows are all deleted must vanish from the manifest; a
    * partially-hit file must rewrite to exactly its survivors. */
  def lakeDeleteErasure(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.delete(o.filter(col("o_orderkey") % 100 === 0).select("o_orderkey"))
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** The shared MERGE-then-DELETE scenario of the CDC lanes: update every
    * key ≡ 0 (mod 100) to priority '0-UPDATED', insert the same rows
    * re-keyed +100 000 000 as '9-INSERTED', then erase every key ≡ 7
    * (mod 100). Returns the table after both commits.
    *
    * Its three consumers (`lake_cdc_changes`, `lake_mv_incremental`,
    * `lake_time_travel`) only READ the table after construction, so the
    * built scenario is shared per (corpus dir, corpus GENERATION) within
    * a JVM — the staged-media-cache pattern: the generation marker
    * (mtime+size of the orders parquet) means a regenerated corpus
    * rebuilds instead of serving stale table state. Lanes that MUTATE
    * their table differently (merge_cow, delete_erasure, schema, mor,
    * range_slice) keep building fresh. */
  private val scenarioCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, LakeTable)]()

  private def ordersGeneration(spark: SparkSession, dir: String): String = {
    val p = new Path(s"$dir/orders.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    s"${st.getModificationTime}-${st.getLen}"
  }

  private def mergedThenDeleted(spark: SparkSession, dir: String): LakeTable = {
    // a cached table is bound to the session that built it (its reads plan
    // there), so a hit must be the SAME live session — verified by
    // reference, never by a hash (identity hashes collide); a different or
    // stopped session REPLACES the entry, so dead sessions never pile up
    val key = s"$dir@${ordersGeneration(spark, dir)}"
    val cached = scenarioCache.get(key)
    if (cached != null && (cached._1 eq spark) &&
        !cached._1.sparkContext.isStopped) cached._2
    else {
      val o = Tables.orders(spark, dir)
      val t = create(spark, freshRoot(), o, "o_orderkey", 8)
      val hits = o.filter(col("o_orderkey") % 100 === 0)
      val updates = hits.withColumn("o_orderpriority", lit("0-UPDATED"))
        .unionByName(hits
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("o_orderpriority", lit("9-INSERTED")))
      t.merge(updates)
      t.delete(o.filter(col("o_orderkey") % 100 === 7).select("o_orderkey"))
      scenarioCache.put(key, (spark, t))
      t
    }
  }

  /** Gated lane: the change feed across a MERGE and a DELETE commit,
    * summarized per (change type, priority). The oracle states the same
    * feed from the raw table — updated keys contribute a preimage (their
    * original priority) and a postimage ('0-UPDATED'), inserted keys an
    * insert, erased keys a delete. Any row the manifest diff dropped,
    * duplicated, or mis-classified diverges the counts; any
    * rewritten-but-unchanged row leaking into the feed inflates them. */
  def lakeCdcChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedThenDeleted(spark, dir)
    t.changes(0, t.latestVersion)
      .groupBy(col("_change_type").as("change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("change_type", "o_orderpriority")
  }

  /** Gated lane: incremental materialized-view maintenance from the
    * change feed. The per-priority (count, revenue) MV built at snapshot
    * 0 is advanced to the latest snapshot by FOLDING THE FEED — postimage
    * and insert rows add, preimage and delete rows subtract — never
    * rescanning the table. Money stays exact DECIMAL until the final
    * round, so the incremental fold is bit-equal to a from-scratch
    * aggregate (the oracle states the post-state aggregate directly).
    * At 100 TB this is the difference between touching the changed files
    * and re-aggregating the fact table per refresh. */
  def lakeMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 10)
    val t = mergedThenDeleted(spark, dir)
    val mv0 = t.snapshot(0).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n0"),
        sum(col("o_totalprice").cast(dec)).as("p0"))
    val feed = t.changes(0, t.latestVersion)
    val delta = feed
      .withColumn("sgn",
        when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
          .otherwise(lit(-1L)))
      .groupBy("o_orderpriority")
      .agg(sum(col("sgn")).as("dn"),
        sum(when(col("sgn") === 1L, col("o_totalprice").cast(dec))
          .otherwise(-col("o_totalprice").cast(dec))).as("dp"))
    mv0.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("p0"), lit(0).cast(dec)) +
          coalesce(col("dp"), lit(0).cast(dec))).as("p"))
      .filter(col("n_orders") > 0L)
      .select(col("o_orderpriority"), col("n_orders"),
        round(col("p"), 2).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: merge-on-read delete through the SQL gate, three phases.
    * A deferred delete (tombstone write, zero data files rewritten) must
    * read exactly like the COW delete; a MERGE THROUGH the outstanding
    * tombstones (deletion-vector semantics) must revive exactly the keys
    * it re-inserts (every key ≡ 0 mod 200, priority '5-REVIVED') while
    * the rest stay dead; and compaction must fold the remaining
    * tombstones into a clean snapshot that reads identically — all three
    * phases aggregated under one oracle. The no-rewrite property itself
    * is spec-pinned (`LakeSpec`). */
  def lakeMorDelete(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.deleteDeferred(o.filter(col("o_orderkey") % 100 === 0).select("o_orderkey"))
    def agg(phase: String) = t.read().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders")).withColumn("phase", lit(phase))
    val deferred = agg("deferred")
    t.merge(o.filter(col("o_orderkey") % 200 === 0)
      .withColumn("o_orderpriority", lit("5-REVIVED")))
    val merged = agg("merged")
    t.compact(8)
    val compacted = agg("compacted")
    deferred.unionByName(merged).unionByName(compacted)
      .select("phase", "o_orderpriority", "n_orders")
      .orderBy("phase", "o_orderpriority")
  }

  /** Gated lane: MERGE-ON-READ delete by ARBITRARY PREDICATE
    * ([[LakeTable.deleteDeferredWhere]], SQL `DELETE DEFERRED FROM …
    * WHERE`): a non-key predicate (cheap urgent orders) tombstones its
    * matched KEYS in one column-pruned scan — zero data files rewrite
    * (pinned in `LakeSpec`) — then a second, overlapping predicate
    * stacks, a MERGE revives part of the dead set through the
    * tombstones, and a compact folds it all physically. Three phases,
    * one oracle over the raw table; any divergence between the deferred
    * anti-join and the predicate semantics shows up as a count drift. */
  def lakeMorDeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.deleteDeferredWhere(
      col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 50000)
    def agg(phase: String) = t.read().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders")).withColumn("phase", lit(phase))
    val deferred = agg("deferred")
    t.deleteDeferredWhere(col("o_orderkey") % 500 === 0) // stacks
    t.merge(o.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderpriority", lit("6-REVIVED")))
    val revived = agg("revived")
    t.compact(8)
    val compacted = agg("compacted")
    deferred.unionByName(revived).unionByName(compacted)
      .select("phase", "o_orderpriority", "n_orders")
      .orderBy("phase", "o_orderpriority")
  }

  /** Gated lane: the change feed ACROSS deferred-delete endpoints — the
    * tombstone-aware feed. After a deferred delete (every key ≡ 0 mod
    * 100) and a merge touching only the low key range (keys ≡ 7 mod 100
    * up to 1500), `changes(0, latest)` must emit deletes for every
    * tombstoned key — the high-range ones coming from CARRIED files the
    * file diff alone cannot see — plus the pre/post pair for each merged
    * key, and nothing else. */
  def lakeMorChanges(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.deleteDeferred(o.filter(col("o_orderkey") % 100 === 0).select("o_orderkey"))
    t.merge(o.filter(col("o_orderkey") % 100 === 7 && col("o_orderkey") <= 1500)
      .withColumn("o_orderpriority", lit("7-UPDATED")))
    t.changes(0, t.latestVersion)
      .groupBy(col("_change_type").as("change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("change_type", "o_orderpriority")
  }

  /** Gated lane: time travel through the SQL gate. After a MERGE that
    * rewrites priorities and a DELETE that erases keys, reading snapshot
    * 0 must still aggregate exactly like the raw table — the COW
    * contract (old files never touched, only de-referenced) stated as a
    * query the oracle can falsify. Any merge/delete that mutated a
    * version-0 file in place diverges the counts. */
  def lakeTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedThenDeleted(spark, dir)
    t.snapshot(0).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: the key-range slice query every serving layer runs,
    * through the AUTOMATIC pruning path — a plain `filter` over `read()`,
    * no `readRange` cooperation; the injected [[LakeManifestPrune]] rule
    * drops manifest-disjoint files at planning time (PlanAssertionsSpec
    * pins the scan to fewer files than the table holds). The oracle
    * states the same slice over the raw table. */
  def lakeRangeSlice(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.read()
      .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 2000L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: schema evolution through MERGE, then a metadata-only
    * RENAME. The update batch carries a column the table never had
    * (`o_channel`); the COW commit widens the schema — survivors of
    * rewritten files and every carried-over file read back null through
    * the merged-schema scan, update rows carry the backfill value. The
    * widened column then RENAMES (`o_flag` → `o_signal`, a zero-rewrite
    * column-mapping commit — files keep the physical name) and the final
    * aggregate reads through the NEW name; a dropped widening, a null
    * leak into updated rows, or a rename that moved/duplicated data all
    * diverge. */
  def lakeSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_flag", (col("o_custkey") % 10).cast("int"))
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    // the batch WIDENS o_flag INT→LONG (update values overflow int) and
    // ADDS o_channel — carried files read back promoted / null through
    // the evolved stored schema
    val updates = o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderpriority", lit("0-UPDATED"))
      .withColumn("o_channel", lit("BACKFILL"))
      .withColumn("o_note", lit("EPHEMERAL"))
      .withColumn("o_flag", col("o_flag").cast("long") * lit(1000000000L))
    t.merge(updates)
    // metadata-only rename + explicit ADD COLUMN (SQL twins: ALTER TABLE
    // graft_lake(…) RENAME/ADD COLUMN — routed in LakeSqlDmlSpec; this
    // lane also runs in extension-less sessions, so it uses API verbs)
    t.renameColumn("o_flag", "o_signal")
    // drop the merge-filled o_note, then RE-ADD it: the dropped-name
    // reservation maps the new column to fresh physical storage, so the
    // 'EPHEMERAL' bytes still in the merged files must NEVER read back —
    // the oracle pins n_note = 0 (any resurrection makes it nonzero)
    t.dropColumn("o_note")
    t.addColumn("o_note", "string")
    t.read()
      .groupBy(coalesce(col("o_channel"), lit("LEGACY")).as("channel"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_signal")).as("sum_flag"),
        count(col("o_note")).as("n_note"))
      .orderBy("channel", "o_orderpriority")
  }

  /** Gated lane: planning-time data skipping on a DATE column. The lake is
    * keyed (and therefore range-clustered) on the order date, so each file
    * holds a disjoint date slice and a one-year filter prunes to the
    * covering files — the predicate every real lake user writes first.
    * DATE stats are stored as days-since-epoch ([[statLong]]) and the
    * injected [[LakeManifestPrune]] reads DateType literals in the same
    * units; the file-count assertion lives in `LakePartitionSpec`. The
    * oracle states the same slice over the raw table. */
  def lakeDatePruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_date", to_date(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_date", 8)
    t.read()
      .filter(col("o_date") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
        col("o_date") <= lit(java.sql.Date.valueOf("1995-12-31")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: hive-style partition layout composing with manifest
    * skipping. The lake writes `o_year=<y>/` directories (partition column
    * derived from the order date); a partition-equality filter must read
    * only that year's files — Spark's own partition pruning AND the
    * manifest prune rule (partition bounds ride every file entry) agree on
    * the same subset. Aggregates check row-level correctness against the
    * raw table; the scanned-files assertion lives in `LakePartitionSpec`. */
  def lakePartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_orderkey", 8,
      partitionBy = Seq("o_year"))
    t.read()
      .filter(col("o_year") === 1995)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: time travel through PURE SQL — Spark-native reader
    * syntax (`FROM graft_lake('<root>') VERSION AS OF 0`, rewritten by
    * the injected parser onto the `graft_lake_at` table function, which
    * resolves the snapshot-0 manifest at analysis time), so a SQL-only
    * user reaches the same COW contract [[lakeTimeTravel]] gates through
    * the DataFrame API without knowing the function exists. Same oracle
    * shape: after a MERGE and a DELETE, version 0 still aggregates
    * exactly like the raw table. */
  def lakeSqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedThenDeleted(spark, dir)
    spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_orders
         |FROM graft_lake('${t.root}') VERSION AS OF 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: the CDC feed through PURE SQL via the
    * `graft_lake_changes(root, from, to)` table function — the SQL twin of
    * [[lakeCdcChanges]], same oracle. */
  def lakeSqlChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedThenDeleted(spark, dir)
    spark.sql(
      s"""SELECT _change_type AS change_type, o_orderpriority,
         |       count(*) AS n_rows
         |FROM graft_lake_changes('${t.root}', 0, ${t.latestVersion})
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Gated lane: truncated-STRING file statistics + the OPTIMIZE SORT BY
    * maintenance verb. The lake is created key-clustered (string ranges
    * span every file — unprunable), then a sort-layout
    * [[LakeTable.compact]] re-clusters on the priority string; each file
    * now carries tight truncated-lower/ceiling-upper string bounds and an
    * equality filter prunes to the covering files (file-count pinned in
    * `LakePartitionSpec`). The oracle states the same slice raw. */
  def lakeStringPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8,
      statsCols = Seq("o_orderpriority"))
    t.compact(8, Some(("sort", Seq("o_orderpriority"))))
    t.read()
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  /** Gated lane: conditional MERGE (the full MERGE INTO clause set).
    * Source rows are the usual update/insert mix; matched targets DELETE
    * when cheap (totalprice < 100k), UPDATE to '0-UPDATED' when expensive
    * (≥ 200k), and CARRY UNCHANGED in between — three matched outcomes
    * plus inserts, one oracle over the raw table. A clause mis-ordering,
    * a dropped carry, or an insert leaking through a matched key all
    * diverge the counts. */
  def lakeMergeConditional(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    val hits = o.filter(col("o_orderkey") % 100 === 0)
    val updates = hits.withColumn("o_orderpriority", lit("0-UPDATED"))
      .unionByName(hits
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("9-INSERTED")))
    t.mergeInto(updates,
      whenMatchedDeleteIf = Some(col("target.o_totalprice") < 100000.0),
      whenMatchedUpdateIf = Some(col("target.o_totalprice") >= 200000.0))
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: the full MERGE INTO clause matrix through PURE SQL —
    * the injected parser surface ([[org.apache.spark.sql.graft.GraftSqlParser]]).
    * Phase 1 drives the same conditional-merge scenario as
    * [[lakeMergeConditional]]: matched-cheap DELETE, matched-expensive
    * UPDATE SET *, carry in between, INSERT * for new keys. Phase 2
    * exercises the REST of the clause surface in one statement:
    * per-column `UPDATE SET c = s.c` (unassigned columns carry from the
    * target), a conditional `WHEN NOT MATCHED AND <cond> THEN INSERT *`
    * (only the cheap half of the new keys inserts), and
    * `WHEN NOT MATCHED BY SOURCE AND <cond> THEN DELETE` (which erases
    * exactly phase 1's inserted rows — no phase-2 source key matches
    * them). One oracle over the raw table pins all seven clause
    * behaviors. */
  def lakeSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    val hits = o.filter(col("o_orderkey") % 100 === 0)
    hits.withColumn("o_orderpriority", lit("0-UPDATED"))
      .unionByName(hits
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("9-INSERTED")))
      .createOrReplaceTempView("lake_sql_merge_src")
    spark.sql(
      s"""MERGE INTO graft_lake('${t.root}') AS tgt
         |USING lake_sql_merge_src AS src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED AND tgt.o_totalprice < 100000.0 THEN DELETE
         |WHEN MATCHED AND tgt.o_totalprice >= 200000.0 THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val fifties = o.filter(col("o_orderkey") % 100 === 50)
    fifties.withColumn("o_orderpriority", lit("5-PATCHED"))
      .unionByName(fifties
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumn("o_orderpriority", lit("8-NEWROW")))
      .createOrReplaceTempView("lake_sql_merge_src2")
    spark.sql(
      s"""MERGE INTO graft_lake('${t.root}') AS tgt
         |USING lake_sql_merge_src2 AS s
         |ON tgt.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND tgt.o_totalprice >= 150000.0
         |  THEN UPDATE SET o_orderpriority = s.o_orderpriority
         |WHEN NOT MATCHED AND s.o_totalprice < 100000.0 THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND tgt.o_orderpriority = '9-INSERTED'
         |  THEN DELETE""".stripMargin).collect()
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: incremental BINPACK compaction over the streaming-
    * ingest shape. Three small appends (the INSERT fast path) leave the
    * table with 8 right-sized base files plus 3 small ones;
    * `OPTIMIZE … BINPACK` rewrites ONLY the small files (the base files
    * carry by reference — spec-pinned), and the post-compaction relation
    * aggregates exactly like the union the oracle states. */
  def lakeBinpack(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    (1 to 3).foreach { i =>
      t.insertAll(o.filter(col("o_orderkey") % 100 === i)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L * i))
        .withColumn("o_orderpriority", lit(s"$i-APPENDED")))
    }
    // the threshold sits between the append-batch size (~n/100) and the
    // base file size (~n/8) at every scale factor
    val minRows = math.max(2L, o.count() / 50)
    spark.sql(
      s"OPTIMIZE graft_lake('${t.root}') BINPACK $minRows").collect()
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: SQL CTAS — the whole table lifecycle from SQL:
    * `CREATE TABLE graft_lake(…) KEY … FILES … STATS (…) AS <query>`
    * builds the key-clustered lake (with declared stats columns), and
    * the subsequent filtered aggregate reads it back through the
    * automatic pruning path. The oracle states the same aggregate raw. */
  def lakeSqlCtas(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_ctas_src")
    val root = freshRoot() + "/t"
    spark.sql(
      s"""CREATE TABLE graft_lake('$root') KEY o_orderkey FILES 8
         |STATS (o_totalprice)
         |AS SELECT * FROM lake_sql_ctas_src""".stripMargin).collect()
    val t = new LakeTable(spark, root)
    t.read()
      .filter(col("o_orderkey") <= 2000L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: the NAMED-TABLE catalog — the full lifecycle without one
    * `graft_lake('<root>')` spelling. CREATE TABLE <name> KEY … AS binds
    * the name and lands the table managed under the catalog dir; INSERT
    * INTO <name> appends; MERGE INTO <name> patches; the final SELECT
    * reads the CURRENT relation by name next to `VERSION AS OF 0` time
    * travel by name (both through the injected analyzer rule, not the
    * parser rewrite). One oracle over the raw table pins every step: a
    * missed name resolution fails analysis outright, and a verb that
    * silently delegated (touching the wrong table) diverges the counts. */
  def lakeSqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    // a fresh catalog dir per invocation: bindings persist by design, and
    // the lane must be re-runnable (CREATE refuses an already-bound name)
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_catalog_src")
    spark.sql(
      """CREATE TABLE cat_sales KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_catalog_src""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_sql_catalog_ins")
    spark.sql(
      "INSERT INTO cat_sales SELECT * FROM lake_sql_catalog_ins").collect()
    o.filter(col("o_orderkey") % 100 === 50)
      .withColumn("o_orderpriority", lit("5-PATCHED"))
      .createOrReplaceTempView("lake_sql_catalog_upd")
    spark.sql(
      """MERGE INTO cat_sales AS tgt
        |USING lake_sql_catalog_upd AS s
        |ON tgt.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    spark.sql(
      """SELECT src, o_orderpriority, n_orders FROM (
        |  SELECT 'current' AS src, o_orderpriority, count(*) AS n_orders
        |  FROM cat_sales GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'v0' AS src, o_orderpriority, count(*) AS n_orders
        |  FROM cat_sales VERSION AS OF 0 GROUP BY o_orderpriority)
        |ORDER BY src, o_orderpriority""".stripMargin)
  }

  /** Gated lane: PERSISTED VIEWS — `CREATE VIEW` over a named lake table,
    * a view OVER that view (nesting through the same late-binding
    * resolution), then `CREATE OR REPLACE` swaps the inner view's
    * predicate and the final SELECT reads the outer view: the result
    * reflects the REPLACED inner definition, pinning late binding (an
    * early-binding engine would still serve the stale predicate). The
    * oracle states the post-replace query raw. */
  def lakeSqlView(spark: SparkSession, dir: String): DataFrame = {
    // fresh catalog dir per invocation, same re-runnability contract as
    // the lake_sql_catalog lane (CREATE refuses an already-bound name)
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_view_src")
    spark.sql(
      """CREATE TABLE cat_vorders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_view_src""".stripMargin).collect()
    spark.sql(
      """CREATE VIEW v_slice AS
        |SELECT o_orderkey, o_orderpriority FROM cat_vorders
        |WHERE o_orderkey % 10 = 0""".stripMargin).collect()
    spark.sql(
      """CREATE VIEW v_by_priority AS
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       sum(o_orderkey) AS sum_keys
        |FROM v_slice GROUP BY o_orderpriority""".stripMargin).collect()
    spark.sql(
      """CREATE OR REPLACE VIEW v_slice AS
        |SELECT o_orderkey, o_orderpriority FROM cat_vorders
        |WHERE o_orderkey % 10 = 5""".stripMargin).collect()
    spark.sql(
      """SELECT o_orderpriority, n_orders, CAST(sum_keys AS BIGINT) AS sum_keys
        |FROM v_by_priority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: MATERIALIZED VIEW lifecycle — CREATE over a named lake
    * table pins+aggregates the current snapshot; the base then takes an
    * INSERT, an UPDATE that MOVES rows between groups, and a DELETE;
    * REFRESH folds the three commits' change feed incrementally
    * (O(changed rows), base never rescanned — the epoch-tagged fold);
    * the final SELECT reads the MV by name. The oracle states the
    * post-mutation aggregate from the raw table directly, so ANY fold
    * drift — a missed preimage, a double-counted move, a stale group —
    * diverges. A second REFRESH inside the lane must be a no-op span
    * (same oracle would catch double-folding). */
  def lakeSqlMv(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_mv_src")
    spark.sql(
      """CREATE TABLE mv_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mv_src""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_by_priority AS
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       sum(o_totalprice) AS revenue
        |FROM mv_orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_sql_mv_ins")
    spark.sql(
      "INSERT INTO mv_orders SELECT * FROM lake_sql_mv_ins").collect()
    spark.sql( // group MOVE: preimage leaves one group, postimage enters another
      """UPDATE mv_orders SET o_orderpriority = '7-MOVED'
        |WHERE o_orderkey % 100 = 50""".stripMargin).collect()
    spark.sql(
      "DELETE FROM mv_orders WHERE o_orderkey % 100 = 20").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_by_priority").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_by_priority").collect() // no-op
    spark.sql(
      """SELECT o_orderpriority, n_orders,
        |       CAST(round(revenue, 2) AS DOUBLE) AS revenue
        |FROM mv_by_priority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: MATERIALIZED VIEW with min/max, an EXPRESSION group key
    * (`year(o_orderdate) AS oy`), and HAVING — the round-16 IVM grammar.
    * The lifecycle is built to force BOTH min/max paths: the INSERT adds
    * new maxima (pure fold — greatest against stored state, no rescan),
    * the UPDATE collapses every price ≥ 450k by 400k (its preimages
    * DELETE each affected group's stored maximum → the group-scoped
    * rescan must find the true survivor max), and the DELETE removes
    * every row under 5k (ties the stored minima → min rescan). One
    * REFRESH folds all three commits; a second must no-op. The oracle
    * recomputes the post-mutation aggregate from the raw table with the
    * same HAVING, so a rescan that misses a group, double-counts, or
    * serves a stale extremum diverges. */
  def lakeSqlMvMinMax(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_mvx_src")
    spark.sql(
      """CREATE TABLE mvx_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvx_src""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_price_stats AS
        |SELECT o_orderpriority, year(o_orderdate) AS oy,
        |       count(*) AS n_orders,
        |       min(o_totalprice) AS lo_price,
        |       max(o_totalprice) AS hi_price,
        |       sum(o_totalprice) AS revenue
        |FROM mvx_orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderpriority, year(o_orderdate)
        |HAVING n_orders >= 10""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .withColumn("o_totalprice", col("o_totalprice") + lit(50000.0))
      .createOrReplaceTempView("lake_sql_mvx_ins")
    spark.sql(
      "INSERT INTO mvx_orders SELECT * FROM lake_sql_mvx_ins").collect()
    spark.sql( // preimage deletes each affected group's MAX → max rescan
      """UPDATE mvx_orders SET o_totalprice = o_totalprice - 400000.0
        |WHERE o_totalprice >= 450000.0""".stripMargin).collect()
    spark.sql( // removes the stored minima → min rescan
      "DELETE FROM mvx_orders WHERE o_totalprice < 5000.0").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_price_stats").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_price_stats").collect() // no-op
    spark.sql(
      """SELECT o_orderpriority, oy, n_orders, lo_price, hi_price,
        |       CAST(round(revenue, 2) AS DOUBLE) AS revenue
        |FROM mv_price_stats ORDER BY o_orderpriority, oy""".stripMargin)
  }

  /** Gated lane: MATERIALIZED VIEW with count(DISTINCT) — the round-16
    * IVM side-state aggregate: the view tracks each group's distinct
    * customer reach through a (group, value) multiplicity table, and
    * REFRESH answers from an absolute recount of the changed groups'
    * live values — a signed fold alone cannot know whether a deleted row
    * was a value's last holder. The mutations force every transition:
    * the INSERT adds rows under BRAND-NEW custkeys (+1 per group) AND
    * duplicate rows of existing custkeys (reach unchanged), the UPDATE
    * moves rows between groups (reach leaves one group, enters another),
    * and the DELETE removes every order of ~some custkeys (value DEATH)
    * plus single orders of others (decrement, no death). One REFRESH
    * folds all three; a second must no-op; the oracle recomputes
    * count(DISTINCT) from the mutated table raw. */
  def lakeSqlMvDistinct(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_mvd_src")
    spark.sql(
      """CREATE TABLE mvd_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvd_src""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_cust_reach AS
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       sum(o_totalprice) AS revenue
        |FROM mvd_orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      // half the inserts carry BRAND-NEW custkeys, half duplicate
      // existing ones into the new group
      .withColumn("o_custkey",
        when(col("o_orderkey") % 200 === 0,
          col("o_custkey") + lit(10000000L)).otherwise(col("o_custkey")))
      .createOrReplaceTempView("lake_sql_mvd_ins")
    spark.sql(
      "INSERT INTO mvd_orders SELECT * FROM lake_sql_mvd_ins").collect()
    spark.sql( // group MOVE: reach leaves one group, enters another
      """UPDATE mvd_orders SET o_orderpriority = '7-MOVED'
        |WHERE o_orderkey % 100 = 50""".stripMargin).collect()
    spark.sql( // value DEATH: every order of custkeys ≡ 3 (mod 10) dies
      "DELETE FROM mvd_orders WHERE o_custkey % 10 = 3").collect()
    spark.sql( // decrement without death: one-in-97 orders
      "DELETE FROM mvd_orders WHERE o_orderkey % 97 = 0").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_cust_reach").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_cust_reach").collect() // no-op
    spark.sql(
      """SELECT o_orderpriority, n_orders, n_custs,
        |       CAST(round(revenue, 2) AS DOUBLE) AS revenue
        |FROM mv_cust_reach ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: STAR-JOIN MATERIALIZED VIEW — the round-17 grammar:
    * `FROM fact JOIN dim ON …`, with the dim PINNED at its CREATE-time
    * version and the refresh folding the FACT's change feed joined to
    * that pinned snapshot (the classic IVM answer for the dashboard
    * star: an inner join is linear in the fact side, so the signed fold
    * distributes through it). The lifecycle drives every join-sensitive
    * path: the INSERT adds orders whose groups arrive THROUGH the dim
    * lookup, the UPDATE re-points orders at different customers (a group
    * MOVE the fact row alone cannot see — only the joined feed can), and
    * the DELETE removes every top-priced order (ties stored maxima → the
    * group-scoped rescan must run over the joined shape). One REFRESH
    * folds all three commits; a second must no-op. The oracle recomputes
    * the post-mutation star aggregate from the raw tables. */
  def lakeSqlMvJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    Tables.customer(spark, dir).createOrReplaceTempView("lake_sql_mvj_csrc")
    o.createOrReplaceTempView("lake_sql_mvj_osrc")
    spark.sql(
      """CREATE TABLE mvj_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvj_osrc""".stripMargin).collect()
    spark.sql(
      """CREATE TABLE mvj_cust KEY c_custkey FILES 4
        |AS SELECT * FROM lake_sql_mvj_csrc""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_seg_rev AS
        |SELECT c_mktsegment, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(o_totalprice) AS hi_price,
        |       sum(o_totalprice) AS revenue
        |FROM mvj_orders JOIN mvj_cust ON o_custkey = c_custkey
        |WHERE o_orderkey % 2 = 0
        |GROUP BY c_mktsegment""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_totalprice", col("o_totalprice") + lit(70000.0))
      .createOrReplaceTempView("lake_sql_mvj_ins")
    spark.sql(
      "INSERT INTO mvj_orders SELECT * FROM lake_sql_mvj_ins").collect()
    spark.sql( // group MOVE through the DIM: the order changes customers
      """UPDATE mvj_orders SET o_custkey = 1 + (o_custkey % 1000)
        |WHERE o_orderkey % 100 = 50""".stripMargin).collect()
    spark.sql( // removes the stored maxima → max rescan over the join
      "DELETE FROM mvj_orders WHERE o_totalprice >= 400000.0").collect()
    spark.sql( // the DIM itself mutates: every joined order's group flips
      // — folded incrementally as the dim's own bilinear phase (r17)
      """UPDATE mvj_cust SET c_mktsegment = 'SEG-MOVED'
        |WHERE c_custkey % 10 = 7""".stripMargin).collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_seg_rev").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_seg_rev").collect() // no-op
    spark.sql(
      """SELECT c_mktsegment, n_orders, n_custs, hi_price,
        |       CAST(round(revenue, 2) AS DOUBLE) AS revenue
        |FROM mv_seg_rev ORDER BY c_mktsegment""".stripMargin)
  }

  /** Gated lane: MATERIALIZED VIEW over a (single-table) VIEW — the
    * round-17 fold-through composition: the view's projection (a
    * computed `gross` column) and WHERE filter apply to the fact's
    * snapshot and signed feed alike, with the body PINNED at CREATE.
    * The mutations drive the view-specific hazard: the UPDATE moves
    * rows ACROSS the view's WHERE boundary in both directions (preimage
    * in-view → postimage out, and vice versa), which only a fold of the
    * view's multiset diff gets right; the DELETE removes top-gross rows
    * (extremum ties → the rescan runs through the same view stage). One
    * REFRESH folds all commits; a second must no-op; the oracle
    * recomputes the post-mutation aggregate through the same view
    * transformation raw. */
  def lakeSqlMvView(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_mvw_src")
    spark.sql(
      """CREATE TABLE mvw_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvw_src""".stripMargin).collect()
    spark.sql(
      """CREATE VIEW mvw_small AS
        |SELECT o_orderkey, o_orderpriority, o_custkey,
        |       o_totalprice * 2 AS gross
        |FROM mvw_orders WHERE o_totalprice < 300000.0""".stripMargin)
      .collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_gross AS
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(gross) AS hi_gross,
        |       sum(gross) AS revenue
        |FROM mvw_small WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_sql_mvw_ins")
    spark.sql(
      "INSERT INTO mvw_orders SELECT * FROM lake_sql_mvw_ins").collect()
    spark.sql( // moves rows ACROSS the view's WHERE boundary, both ways
      """UPDATE mvw_orders SET o_totalprice =
        |  CASE WHEN o_totalprice < 150000.0 THEN o_totalprice + 280000.0
        |       ELSE o_totalprice - 150000.0 END
        |WHERE o_orderkey % 10 = 3""".stripMargin).collect()
    spark.sql( // removes top-gross rows → max rescan through the view
      "DELETE FROM mvw_orders WHERE o_totalprice >= 290000.0").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_gross").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_gross").collect() // no-op
    spark.sql(
      """SELECT o_orderpriority, n_orders, n_custs, hi_gross,
        |       CAST(round(revenue, 2) AS DOUBLE) AS revenue
        |FROM mv_gross ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: MATERIALIZED VIEW over a STAR-JOIN VIEW — the round-18
    * semantic-layer composition: the view IS the star (fact ⋈ dim with a
    * computed column and a WHERE), pinned at CREATE and compiled onto
    * the MV's own dimension machinery — the view body's joins become
    * fold dims, its WHERE + projection the post-join stage. The
    * lifecycle drives BOTH bilinear directions through the view: the
    * fact INSERT adds groups through the dim lookup, the fact UPDATE
    * moves rows across the view's WHERE boundary in both directions,
    * the fact DELETE removes the top-value rows (extremum ties → the
    * rescan runs through the view's post-join projection), and the DIM
    * mutation flips joined orders' groups — folded incrementally as the
    * dim's own phase THROUGH the same view stage. One REFRESH folds all
    * four commits; a second must no-op. The oracle recomputes the
    * post-mutation aggregate through the same view transformation raw. */
  def lakeSqlMvStarView(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    Tables.customer(spark, dir).createOrReplaceTempView("lake_sql_mvsv_csrc")
    o.createOrReplaceTempView("lake_sql_mvsv_osrc")
    spark.sql(
      """CREATE TABLE mvsv_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvsv_osrc""".stripMargin).collect()
    spark.sql(
      """CREATE TABLE mvsv_cust KEY c_custkey FILES 4
        |AS SELECT * FROM lake_sql_mvsv_csrc""".stripMargin).collect()
    spark.sql( // the semantic layer: a star-join view with a computed
      // column and its own row filter (INNER JOIN spelling on purpose)
      """CREATE VIEW mvsv_sales AS
        |SELECT c_mktsegment, o_orderkey, o_custkey,
        |       o_totalprice * 2 AS net
        |FROM mvsv_orders INNER JOIN mvsv_cust ON o_custkey = c_custkey
        |WHERE o_totalprice < 400000.0""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_seg_net AS
        |SELECT c_mktsegment, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(net) AS hi_net,
        |       sum(net) AS net_rev
        |FROM mvsv_sales WHERE o_orderkey % 2 = 0
        |GROUP BY c_mktsegment""".stripMargin).collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_totalprice", col("o_totalprice") + lit(70000.0))
      .createOrReplaceTempView("lake_sql_mvsv_ins")
    spark.sql(
      "INSERT INTO mvsv_orders SELECT * FROM lake_sql_mvsv_ins").collect()
    spark.sql( // moves rows ACROSS the view's WHERE boundary, both ways
      """UPDATE mvsv_orders SET o_totalprice =
        |  CASE WHEN o_totalprice < 100000.0 THEN o_totalprice + 350000.0
        |       ELSE o_totalprice - 50000.0 END
        |WHERE o_orderkey % 10 = 3""".stripMargin).collect()
    spark.sql( // removes top-net rows → max rescan through the view
      "DELETE FROM mvsv_orders WHERE o_totalprice >= 390000.0").collect()
    spark.sql( // the DIM mutates: joined orders' groups flip — the dim's
      // own bilinear phase folds THROUGH the view's post-join stage
      """UPDATE mvsv_cust SET c_mktsegment = 'SEG-MOVED'
        |WHERE c_custkey % 10 = 7""".stripMargin).collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_seg_net").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_seg_net").collect() // no-op
    spark.sql(
      """SELECT c_mktsegment, n_orders, n_custs, hi_net,
        |       CAST(round(net_rev, 2) AS DOUBLE) AS net_rev
        |FROM mv_seg_net ORDER BY c_mktsegment""".stripMargin)
  }

  /** Gated lane: CASCADING MATERIALIZED VIEWS — the round-18 rollup
    * chain every warehouse ships (daily → monthly, per-key → per-group):
    * level 1 aggregates the base per (priority, customer) with a HAVING;
    * level 2 aggregates LEVEL 1's SERVED relation per priority —
    * `FROM <mv>` compiles the upstream's read projection as the
    * downstream's pre stage over the upstream's STATE table (itself a
    * lake table with a change feed), the upstream's HAVING as a row
    * filter, and pins the upstream's normalized definition. The DML
    * moves groups across the HAVING boundary in both directions, kills
    * level-1 extrema (level-2's max rescan runs over the projected
    * feed), and exercises count(DISTINCT) over a level-1 AGGREGATE
    * value (n1 repeats across groups, so the multiplicity side table
    * carries real duplicates and value deaths).
    * Refresh runs UPSTREAM then DOWNSTREAM (the staleness contract
    * composes level by level); one extra downstream refresh must no-op. */
  def lakeSqlMvCascade(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.graft.catalog.dir", freshRoot() + "/catalog")
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("lake_sql_mvcc_src")
    spark.sql(
      """CREATE TABLE mvcc_orders KEY o_orderkey FILES 8
        |AS SELECT * FROM lake_sql_mvcc_src""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_cust_rev AS
        |SELECT o_orderpriority, o_custkey, count(*) AS n1,
        |       sum(o_totalprice) AS rev
        |FROM mvcc_orders GROUP BY o_orderpriority, o_custkey
        |HAVING n1 >= 2""".stripMargin).collect()
    spark.sql(
      """CREATE MATERIALIZED VIEW mv_prio_rollup AS
        |SELECT o_orderpriority, count(*) AS n_groups,
        |       count(DISTINCT n1) AS n_sizes,
        |       sum(rev) AS total, max(rev) AS hi
        |FROM mv_cust_rev GROUP BY o_orderpriority""".stripMargin)
      .collect()
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_sql_mvcc_ins")
    spark.sql(
      "INSERT INTO mvcc_orders SELECT * FROM lake_sql_mvcc_ins").collect()
    spark.sql( // kills top-rev customers → level-2 max rescan over the
      // projected level-1 feed; singleton groups cross the HAVING gate
      "DELETE FROM mvcc_orders WHERE o_totalprice >= 420000.0").collect()
    spark.sql( // group MOVE across priorities: level-1 groups die/appear
      """UPDATE mvcc_orders SET o_orderpriority = '7-MOVED'
        |WHERE o_orderkey % 100 = 50""".stripMargin).collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_cust_rev").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_prio_rollup").collect()
    spark.sql("REFRESH MATERIALIZED VIEW mv_prio_rollup").collect() // no-op
    spark.sql( // hi is an incrementally-folded double sum: round at the dump
      // (like total) so ulp-level summation-order drift vs the oracle's
      // exact decimal sum cannot flip the hash — sums of 2dp prices are
      // exact multiples of 0.01, so 2dp rounding recovers the exact value
      """SELECT o_orderpriority, n_groups, n_sizes,
        |       CAST(round(total, 2) AS DOUBLE) AS total,
        |       CAST(round(hi, 2) AS DOUBLE) AS hi
        |FROM mv_prio_rollup ORDER BY o_orderpriority""".stripMargin)
  }

  /** Gated lane: STRING merge keys — the document-id-shaped key every
    * real corpus has. The table keys on `ok = 'ord-' || lpad(key, 12)`
    * (order-preserving re-spelling of the integer key, so the oracle can
    * reconstruct it); the lifecycle drives every keyed verb THROUGH the
    * string key: SQL INSERT of fresh string keys (conflict probe rides
    * the 8-byte-prefix embedding), SQL UPDATE over a string KEY-RANGE
    * predicate (verb scan prunes via the auto-joined truncated-string
    * stats), deferred MOR delete by predicate, and a compact folding the
    * tombstones. One aggregate over (priority) with exact string min/max
    * of the key pins every step. */
  def lakeStringKey(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("ok", concat(lit("ord-"),
        lpad(col("o_orderkey").cast("string"), 12, "0")))
      .drop("o_orderkey")
    val t = create(spark, freshRoot(), o, "ok", 8)
    o.filter(expr("ok like '%00'"))
      .withColumn("ok", concat(lit("xtr-"), col("ok")))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_string_key_ins")
    spark.sql(s"""INSERT INTO graft_lake('${t.root}')
                  |SELECT * FROM lake_string_key_ins""".stripMargin).collect()
    spark.sql(
      s"""UPDATE graft_lake('${t.root}')
         |SET o_orderpriority = '0-UPDATED'
         |WHERE ok >= 'ord-000000000000' AND ok <= 'ord-000000002000'
         |""".stripMargin).collect()
    spark.sql(
      s"""DELETE DEFERRED FROM graft_lake('${t.root}')
         |WHERE ok LIKE '%50'""".stripMargin).collect()
    t.compact(8) // folds the tombstones; relation must be unchanged
    t.read().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        min(col("ok")).as("min_key"), max(col("ok")).as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: SQL INSERT — the append fast path. New keys (every key
    * re-keyed +100 000 000 as '9-INSERTED') land as NEW FILES ONLY: the
    * commit removes nothing and every existing file carries by
    * reference; a conflicting key refuses (spec-pinned). The oracle
    * states the union. */
  def lakeSqlInsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderpriority", lit("9-INSERTED"))
      .createOrReplaceTempView("lake_sql_insert_src")
    spark.sql(
      s"""INSERT INTO graft_lake('${t.root}')
         |SELECT * FROM lake_sql_insert_src""".stripMargin).collect()
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: SQL UPDATE — a targeted COW rewrite from a plain
    * `UPDATE graft_lake(…) SET … WHERE …` statement; only the files
    * holding matching keys rewrite. */
  def lakeSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(
      s"""UPDATE graft_lake('${t.root}')
         |SET o_orderpriority = '0-UPDATED'
         |WHERE o_orderkey % 100 = 0""".stripMargin).collect()
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: SQL DELETE over a NON-KEY predicate — the statement
    * derives the matching keys from one scan, then the key-based COW
    * delete rewrites only their files. */
  def lakeSqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(
      s"DELETE FROM graft_lake('${t.root}') WHERE o_totalprice < 50000.0")
      .collect()
    t.read().groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: SQL table maintenance — OPTIMIZE … SORT BY re-clusters
    * the table on the priority string (string file stats engage), VACUUM
    * RETAIN drops the pre-optimize snapshot, and the relation still
    * aggregates exactly like the raw table. */
  def lakeSqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(
      s"""OPTIMIZE graft_lake('${t.root}') FILES 8
         |SORT BY (o_orderpriority)""".stripMargin).collect()
    spark.sql(s"VACUUM graft_lake('${t.root}') RETAIN 1 VERSIONS").collect()
    t.read()
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  /** Gated lane: SQL RESTORE + SHALLOW CLONE — the undo-and-branch pair.
    * An UPDATE mutates priorities (v1), a DELETE erases keys (v2); a
    * SHALLOW CLONE pinned `VERSION AS OF 1` branches the post-update
    * snapshot into an independent zero-copy table, then `RESTORE TABLE …
    * TO VERSION AS OF 0` rolls the source back as a NEW commit. The
    * restored table must aggregate exactly like the raw data and the
    * clone exactly like the post-update state — a restore that deleted
    * history (instead of re-referencing it) or a clone that tracked the
    * source past its pin diverges one phase or the other. */
  def lakeSqlRestore(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(s"UPDATE graft_lake('${t.root}') SET o_orderpriority = " +
      "'0-UPDATED' WHERE o_orderkey % 100 = 0").collect()
    spark.sql(s"DELETE FROM graft_lake('${t.root}') " +
      "WHERE o_orderkey % 100 = 7").collect()
    val cloneRoot = freshRoot() + "/clone"
    spark.sql(s"CREATE TABLE graft_lake('$cloneRoot') SHALLOW CLONE " +
      s"graft_lake('${t.root}') VERSION AS OF 1").collect()
    spark.sql(s"RESTORE TABLE graft_lake('${t.root}') " +
      "TO VERSION AS OF 0").collect()
    def agg(df: DataFrame, phase: String): DataFrame = df
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .withColumn("phase", lit(phase))
    agg(t.read(), "restored")
      .unionByName(agg(new LakeTable(spark, cloneRoot).read(), "clone"))
      .select("phase", "o_orderpriority", "n_orders")
      .orderBy("phase", "o_orderpriority")
  }

  /** Gated lane: IN-list point lookups through the automatic pruning
    * path — the second-most-common lake predicate after ranges. A
    * 16-member IN list (past Spark's InSet conversion threshold, so the
    * rule sees `InSet`, not `In`) over the clustered key must scan only
    * the files whose range holds a member; the file-count assertion
    * lives in `LakePruneRuleSpec`, the oracle states the same lookup
    * raw. */
  def lakeInlistPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.read()
      .filter(col("o_orderkey").isin(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1001L,
        1002L, 1003L, 1004L, 5001L, 5002L, 5003L, 9001L, 9002L))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: METADATA-ONLY aggregates — `count(*)`, key `min`/`max`,
    * and a null-aware `count(col)` over the lake answer from manifest
    * stats alone; the injected [[LakeMetadataAggregate]] rule replaces
    * the whole aggregate with a LocalRelation (zero file scan — the
    * plan assertion lives in `LakePruneRuleSpec`). The oracle states the
    * same aggregates over the raw table, so a wrong stat sum or a stale
    * bound diverges. */
  def lakeMetaAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8,
      statsCols = Seq("o_custkey"))
    t.read().agg(
      count(lit(1)).as("n_rows"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      count(col("o_custkey")).as("n_cust"))
  }

  /** Gated lane: `WHEN NOT MATCHED BY SOURCE … UPDATE SET` — the
    * reconciliation clause (mark rows the source no longer carries).
    * The source holds only the %100==0 keys; every OTHER cheap row
    * flips to 'STALE' per-column while matched rows and expensive
    * unmatched rows carry — and the rewrite touches only files the
    * clause condition can fire in. */
  def lakeMergeNmbsUpdate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.mergeInto(o.filter(col("o_orderkey") % 100 === 0),
      whenMatchedUpdateIf = Some(lit(false)), // matched rows carry
      whenNotMatchedInsert = false,
      whenNotMatchedBySourceUpdateIf =
        Some(col("target.o_totalprice") < 30000.0),
      whenNotMatchedBySourceUpdateSet =
        Seq("o_orderpriority" -> lit("STALE")))
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: ANALYZE — retrofit statistics without moving data. The
    * lake is created with NO stats columns; `ANALYZE TABLE … COMPUTE
    * STATISTICS FOR COLUMNS` re-manifests every file with custkey/
    * priority bounds (zero data movement — spec-pinned in
    * `LakeSqlDmlSpec`), and the subsequent filtered aggregate reads
    * through the now-prunable path; the oracle states the same slice
    * raw. */
  def lakeAnalyze(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
      "COMPUTE STATISTICS FOR COLUMNS o_custkey, o_orderpriority").collect()
    val full = t.read()
      .filter(col("o_custkey") <= 300L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("phase", lit("analyzed"))
    // scoped phase: retrofit o_totalprice stats for ONLY the files whose
    // key range can hold keys < 1500 (the ANALYZE … WHERE shape — after
    // a scoped OPTIMIZE, re-stat exactly the selected subset); the
    // answer is stats-independent, the scan is prunable where covered
    spark.sql(s"ANALYZE TABLE graft_lake('${t.root}') COMPUTE STATISTICS " +
      "FOR COLUMNS o_totalprice WHERE o_orderkey < 1500").collect()
    val scoped = t.read()
      .filter(col("o_orderkey") < 1500L && col("o_totalprice") < 100000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("phase", lit("scoped"))
    full.unionByName(scoped)
      .select("phase", "o_orderpriority", "n_orders", "sum_keys")
      .orderBy("phase", "o_orderpriority")
  }

  /** Gated lane: BLOOM FILTER indexes — point-lookup skipping for the
    * column range stats cannot help with. `o_custkey` is uncorrelated
    * with the `o_orderkey` clustering, so every file's custkey [min,max]
    * spans the whole domain and min/max pruning is inert; `ANALYZE …
    * COMPUTE BLOOM` builds per-file sidecar filters and the IN-list
    * lookup reads only files that may hold a member (file-skip
    * assertions live in `LakeBloomSpec`; fpp can only RETAIN extra
    * files, never drop a match, so the oracle stays exact). */
  def lakeBloomPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
      "COMPUTE BLOOM FOR COLUMNS o_custkey").collect()
    t.read()
      .filter(col("o_custkey").isin(7L, 23L, 88L, 131L))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: CHECK constraints — the per-row write gate. Two
    * constraints land as metadata-only commits; a conforming MERGE
    * passes through the in-write assert, a VIOLATING insert fails its
    * write and leaves the table untouched (the lane swallows the
    * refusal — if enforcement silently let the batch through, the
    * '9-NEGATIVE' group would appear and the counts would diverge). */
  def lakeConstraints(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.addConstraint("price_pos", "o_totalprice > 0.0")
    t.addConstraint("has_priority", "o_orderpriority IS NOT NULL")
    t.merge(o.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderpriority", lit("0-UPDATED")))
    try {
      t.insertAll(o.filter(col("o_orderkey") % 100 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("9-NEGATIVE"))
        .withColumn("o_totalprice", lit(-1.0)))
      throw new IllegalStateException(
        "constraint gate let a violating batch through")
    } catch { case e: Exception
        if e.getMessage != null && e.getMessage.contains("price_pos") => () }
    t.read().groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: predicate-scoped compaction — `OPTIMIZE … WHERE`, the
    * maintenance verb a 100 TB table actually runs (compact yesterday's
    * partition, not the table). Two appends fragment the 1996 partition;
    * the scoped OPTIMIZE rewrites only files the predicate can touch
    * (carried-by-reference assertion lives in `LakeSqlDmlSpec`), and the
    * post-compaction relation aggregates exactly like the union the
    * oracle states. */
  def lakeOptimizeWhere(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_orderkey", 4,
      partitionBy = Seq("o_year"))
    (1 to 2).foreach { i =>
      t.insertAll(o.filter(col("o_orderkey") % 100 === i)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L * i))
        .withColumn("o_year", lit(1996)))
    }
    spark.sql(s"OPTIMIZE graft_lake('${t.root}') WHERE o_year = 1996")
      .collect()
    t.read().groupBy("o_year").agg(count(lit(1)).as("n_orders"))
      .orderBy("o_year")
  }

  /** Gated lane: HILBERT-curve clustering — the locality-preserving
    * OPTIMIZE layout ([[LakeTable.compact]] with a hilbert layout, SQL
    * `OPTIMIZE … HILBERT BY`). The table re-clusters on the 2-D Hilbert
    * index of (custkey, orderdate); both columns join the stats set and
    * a 2-D box predicate reads a file subset (the better-or-equal-than-
    * Morton assertion lives in `ZOrderSpec`); the oracle states the same
    * box aggregate raw. */
  def lakeHilbertPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    spark.sql(
      s"OPTIMIZE graft_lake('${t.root}') FILES 8 HILBERT BY " +
        "(o_custkey, o_orderdate)").collect()
    t.read()
      .filter(col("o_custkey") <= 300L &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  /** Gated lane: GROUPED metadata-only aggregates — `count(*)` /
    * `min` / `max` per PARTITION value answer from manifest stats alone
    * (every file holds exactly one partition value, so per-group
    * aggregates are per-file-group folds; the plan assertion lives in
    * `LakePruneRuleSpec`). The oracle states the same aggregates raw. */
  def lakeMetaAggGrouped(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_orderkey", 8,
      partitionBy = Seq("o_year"))
    t.read().groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_year")
  }

  /** Gated lane: FILTERED metadata-only aggregates — when manifest
    * pruning proves every surviving file WHOLLY inside the predicate
    * (here: partition equality, where file partition bounds are
    * degenerate), the filtered `count(*)` / `min` / `max` also answer
    * from stats alone; a partially-covered file would fall back to the
    * scan, never to a wrong fast answer. Oracle states the filtered
    * aggregates raw. */
  def lakeMetaAggFiltered(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_orderkey", 8,
      partitionBy = Seq("o_year"))
    t.read().filter(col("o_year") === 1995)
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Gated lane: the COMPLETE-mode aggregate fold behind the streaming
    * sink's complete output mode ([[LakeTable.replaceAllEpoch]]) — batch
    * twin with a real oracle. A lake seeded with YESTERDAY's complete
    * aggregation result (first-half data only, plus a bucket that no
    * longer exists) folds TODAY's complete result in one epoch: every
    * live bucket upserts, the vanished bucket deletes (the NOT MATCHED
    * BY SOURCE path), and a replay of the same epoch is a no-op — the
    * final table must equal the aggregation over the raw data, which is
    * exactly what the oracle states. */
  def lakeSinkAggregate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy((col("o_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_keys"))
    val stale = spark.range(1).select(lit(99L).as("bucket"),
      lit(1L).as("n_orders"), lit(1L).as("sum_keys"))
    val t = create(spark, freshRoot(),
      aggOf(o.filter(col("o_orderkey") % 2 === 0)).unionByName(stale),
      "bucket", 2)
    val full = aggOf(o)
    t.replaceAllEpoch(full, 0L, "agg-fold")
    t.replaceAllEpoch(full, 0L, "agg-fold") // replayed epoch: no-op
    t.read().orderBy("bucket")
  }

  /** Gated lane: the FORMAT reader over a snapshot a raw file relation
    * cannot represent — renamed columns (column mapping) ON TOP OF an
    * outstanding merge-on-read delete. `spark.read.format("graft-lake")`
    * serves it through [[LakeProjectedRelation]]: logical names, the
    * read-time tombstone anti-join, and filter pushdown (the predicate
    * reaches the physical parquet scan through the aliasing projection —
    * plan pinned in `LakeSpec`). The oracle states the same filtered
    * aggregate with the deleted keys excluded. */
  def lakeFormatRenamed(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val t = create(spark, freshRoot(), o, "o_orderkey", 8)
    t.renameColumn("o_orderpriority", "o_priority")
    t.deleteDeferred(
      o.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"))
    spark.read.format("graft-lake").load(t.root)
      .filter(col("o_priority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  /** Gated lane: PREDICATE-SCOPED RE-CLUSTERING — `OPTIMIZE … SORT BY …
    * WHERE` ([[LakeTable.compactWhere]] with a layout): only the 1996
    * partition's files (fragmented by two bulk appends) rewrite, sorted
    * by totalprice so they pick up tight per-file price bounds; every
    * other partition carries by reference (O(selected), the partition-
    * maintenance loop — file accounting pinned in `LakeSqlDmlSpec`).
    * The oracle replays the appends and states the same filtered
    * aggregate. */
  def lakeOptimizeWhereCluster(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val t = create(spark, freshRoot(), o, "o_orderkey", 4,
      partitionBy = Seq("o_year"))
    (1 to 2).foreach { i =>
      t.insertAll(o.filter(col("o_orderkey") % 100 === i)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L * i))
        .withColumn("o_year", lit(1996)))
    }
    t.withRetry(t.compactWhere(col("o_year") === 1996, 4,
      Some(("sort", Seq("o_totalprice")))))
    t.read()
      .filter(col("o_year") === 1996 && col("o_totalprice") < 50000)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_format_renamed" -> (lakeFormatRenamed _),
    "lake_optimize_where_cluster" -> (lakeOptimizeWhereCluster _),
    "lake_mor_delete_where" -> (lakeMorDeleteWhere _),
    "lake_sink_aggregate" -> (lakeSinkAggregate _),
    "lake_meta_agg" -> (lakeMetaAgg _),
    "lake_meta_agg_grouped" -> (lakeMetaAggGrouped _),
    "lake_meta_agg_filtered" -> (lakeMetaAggFiltered _),
    "lake_hilbert_pruning" -> (lakeHilbertPruning _),
    "lake_optimize_where" -> (lakeOptimizeWhere _),
    "lake_constraints" -> (lakeConstraints _),
    "lake_merge_nmbs_update" -> (lakeMergeNmbsUpdate _),
    "lake_analyze" -> (lakeAnalyze _),
    "lake_bloom_pruning" -> (lakeBloomPruning _),
    "lake_inlist_pruning" -> (lakeInlistPruning _),
    "lake_sql_merge" -> (lakeSqlMerge _),
    "lake_sql_ctas" -> (lakeSqlCtas _),
    "lake_sql_catalog" -> (lakeSqlCatalog _),
    "lake_sql_view" -> (lakeSqlView _),
    "lake_sql_mv" -> (lakeSqlMv _),
    "lake_sql_mv_minmax" -> (lakeSqlMvMinMax _),
    "lake_sql_mv_distinct" -> (lakeSqlMvDistinct _),
    "lake_sql_mv_join" -> (lakeSqlMvJoin _),
    "lake_sql_mv_view" -> (lakeSqlMvView _),
    "lake_sql_mv_starview" -> (lakeSqlMvStarView _),
    "lake_sql_mv_cascade" -> (lakeSqlMvCascade _),
    "lake_string_key" -> (lakeStringKey _),
    "lake_binpack" -> (lakeBinpack _),
    "lake_sql_insert" -> (lakeSqlInsert _),
    "lake_sql_update" -> (lakeSqlUpdate _),
    "lake_sql_delete" -> (lakeSqlDelete _),
    "lake_sql_maintenance" -> (lakeSqlMaintenance _),
    "lake_sql_restore" -> (lakeSqlRestore _),
    "lake_merge_conditional" -> (lakeMergeConditional _),
    "lake_string_pruning" -> (lakeStringPruning _),
    "lake_sql_time_travel" -> (lakeSqlTimeTravel _),
    "lake_sql_changes" -> (lakeSqlChanges _),
    "lake_date_pruning" -> (lakeDatePruning _),
    "lake_partition_pruning" -> (lakePartitionPruning _),
    "lake_merge_cow" -> (lakeMergeCow _),
    "lake_keyless" -> (lakeKeyless _),
    "lake_partition_evolution" -> (lakePartitionEvolution _),
    "lake_delete_erasure" -> (lakeDeleteErasure _),
    "lake_cdc_changes" -> (lakeCdcChanges _),
    "lake_mv_incremental" -> (lakeMvIncremental _),
    "lake_schema_evolution" -> (lakeSchemaEvolution _),
    "lake_time_travel" -> (lakeTimeTravel _),
    "lake_range_slice" -> (lakeRangeSlice _),
    "lake_mor_delete" -> (lakeMorDelete _),
    "lake_mor_changes" -> (lakeMorChanges _))

  val oracle: Map[String, String] = Map(
    "lake_format_renamed" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_optimize_where_cluster" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority,
        |         year(o_orderdate) AS o_year
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, o_orderpriority, 1996
        |  FROM orders WHERE o_orderkey % 100 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, o_totalprice, o_orderpriority, 1996
        |  FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM u WHERE o_year = 1996 AND o_totalprice < 50000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_mor_delete_where" ->
      """WITH m AS (
        |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN '6-REVIVED'
        |              ELSE o_orderpriority END AS pri,
        |         CASE WHEN o_orderkey % 1000 = 0 THEN 1
        |              WHEN o_orderkey % 500 = 0 THEN 0
        |              WHEN o_orderpriority = '1-URGENT'
        |                   AND o_totalprice < 50000 THEN 0
        |              ELSE 1 END AS live
        |  FROM orders),
        |d AS (
        |  SELECT o_orderpriority FROM orders
        |  WHERE NOT (o_orderpriority = '1-URGENT' AND o_totalprice < 50000))
        |SELECT phase, o_orderpriority, n_orders FROM (
        |  SELECT 'deferred' AS phase, o_orderpriority,
        |         count(*) AS n_orders FROM d GROUP BY 2
        |  UNION ALL
        |  SELECT 'revived', pri, count(*) FROM m WHERE live = 1 GROUP BY 2
        |  UNION ALL
        |  SELECT 'compacted', pri, count(*) FROM m WHERE live = 1 GROUP BY 2
        |) ORDER BY 1, 2""".stripMargin,

    "lake_sink_aggregate" ->
      """SELECT o_orderkey % 10 AS bucket, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_meta_agg" ->
      """SELECT count(*) AS n_rows,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |       count(o_custkey) AS n_cust
        |FROM orders""".stripMargin,

    "lake_meta_agg_grouped" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       count(*) AS n_orders,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_meta_agg_filtered" ->
      """SELECT count(*) AS n_orders,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE year(o_orderdate) = 1995""".stripMargin,

    "lake_hilbert_pruning" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_custkey <= 300 AND o_orderdate < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_analyze" ->
      """SELECT phase, o_orderpriority, n_orders, sum_keys FROM (
        |  SELECT 'analyzed' AS phase, o_orderpriority,
        |         count(*) AS n_orders,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM orders WHERE o_custkey <= 300 GROUP BY 2
        |  UNION ALL
        |  SELECT 'scoped', o_orderpriority, count(*),
        |         CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders WHERE o_orderkey < 1500 AND o_totalprice < 100000
        |  GROUP BY 2
        |) ORDER BY 1, 2""".stripMargin,

    "lake_bloom_pruning" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_custkey IN (7, 23, 88, 131)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_merge_nmbs_update" ->
      """SELECT CASE WHEN o_orderkey % 100 <> 0 AND o_totalprice < 30000
        |            THEN 'STALE' ELSE o_orderpriority END AS o_orderpriority,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_constraints" ->
      """WITH m AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_optimize_where" ->
      """WITH u AS (
        |  SELECT year(o_orderdate) AS o_year FROM orders
        |  UNION ALL
        |  SELECT 1996 FROM orders WHERE o_orderkey % 100 = 1
        |  UNION ALL
        |  SELECT 1996 FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT CAST(o_year AS INTEGER) AS o_year, count(*) AS n_orders
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_inlist_pruning" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders
        |WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 1001, 1002, 1003, 1004,
        |                     5001, 5002, 5003, 9001, 9002)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_merge" ->
      """WITH phase1 AS (
        |  -- phase 2's NOT MATCHED BY SOURCE clause erases every
        |  -- '9-INSERTED' row phase 1 added, so they never appear
        |  SELECT o_orderkey, o_totalprice,
        |         CASE WHEN o_orderkey % 100 = 0 AND o_totalprice >= 200000
        |              THEN '0-UPDATED' ELSE o_orderpriority END AS pri
        |  FROM orders
        |  WHERE NOT (o_orderkey % 100 = 0 AND o_totalprice < 100000)
        |), phase2 AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 50 AND o_totalprice >= 150000
        |              THEN '5-PATCHED' ELSE pri END AS o_orderpriority
        |  FROM phase1
        |  UNION ALL
        |  SELECT '8-NEWROW' FROM orders
        |  WHERE o_orderkey % 100 = 50 AND o_totalprice < 100000
        |)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM phase2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_binpack" ->
      """WITH u AS (
        |  SELECT o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT '1-APPENDED' FROM orders WHERE o_orderkey % 100 = 1
        |  UNION ALL
        |  SELECT '2-APPENDED' FROM orders WHERE o_orderkey % 100 = 2
        |  UNION ALL
        |  SELECT '3-APPENDED' FROM orders WHERE o_orderkey % 100 = 3)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_ctas" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_catalog" ->
      """WITH cur AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 50 THEN '5-PATCHED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT '9-INSERTED' FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT src, o_orderpriority, n_orders FROM (
        |  SELECT 'current' AS src, o_orderpriority, count(*) AS n_orders
        |  FROM cur GROUP BY 2
        |  UNION ALL
        |  SELECT 'v0' AS src, o_orderpriority, count(*) AS n_orders
        |  FROM orders GROUP BY 2)
        |ORDER BY src, o_orderpriority""".stripMargin,

    "lake_sql_view" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 10 = 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_string_key" ->
      """WITH keyed AS (
        |  SELECT 'ord-' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS ok,
        |         o_orderpriority
        |  FROM orders
        |), st AS (
        |  SELECT ok,
        |         CASE WHEN ok >= 'ord-000000000000' AND
        |                   ok <= 'ord-000000002000' THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM keyed
        |  UNION ALL
        |  SELECT 'xtr-' || ok, '9-INSERTED' FROM keyed WHERE ok LIKE '%00'
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       min(ok) AS min_key, max(ok) AS max_key
        |FROM st WHERE ok NOT LIKE '%50'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv" ->
      """WITH mutated AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 100 = 50 THEN '7-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice
        |  FROM orders WHERE o_orderkey % 100 <> 20
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, '9-INSERTED', o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS revenue
        |FROM mutated WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_distinct" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey,
        |         CASE WHEN (o_orderkey + 100000000) % 200 = 0
        |              THEN o_custkey + 10000000 ELSE o_custkey END AS o_custkey,
        |         '9-INSERTED' AS o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |  FROM orders
        |  UNION ALL SELECT * FROM ins
        |), upd AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 100 = 50 THEN '7-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice
        |  FROM all0
        |), fin AS (
        |  SELECT * FROM upd
        |  WHERE o_custkey % 10 <> 3 AND o_orderkey % 97 <> 0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS revenue
        |FROM fin WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_join" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         o_totalprice + 70000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL SELECT * FROM ins
        |), upd AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 100 = 50
        |              THEN 1 + (o_custkey % 1000)
        |              ELSE o_custkey END AS o_custkey,
        |         o_totalprice
        |  FROM all0
        |), fin AS (
        |  SELECT * FROM upd WHERE o_totalprice < 400000.0
        |), cust2 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 7 THEN 'SEG-MOVED'
        |              ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(o_totalprice) AS hi_price,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS revenue
        |FROM fin JOIN cust2 ON o_custkey = c_custkey
        |WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_view" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         '9-INSERTED' AS o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |  FROM orders
        |  UNION ALL SELECT * FROM ins
        |), upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 3 THEN
        |                CASE WHEN o_totalprice < 150000.0
        |                     THEN o_totalprice + 280000.0
        |                     ELSE o_totalprice - 150000.0 END
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM all0
        |), fin AS (
        |  SELECT * FROM upd WHERE o_totalprice < 290000.0
        |), v AS (
        |  SELECT o_orderkey, o_orderpriority, o_custkey,
        |         o_totalprice * 2 AS gross
        |  FROM fin WHERE o_totalprice < 300000.0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(gross) AS hi_gross,
        |       CAST(round(sum(CAST(gross AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS revenue
        |FROM v WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_cascade" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         '9-INSERTED' AS o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |  FROM orders
        |  UNION ALL SELECT * FROM ins
        |), del AS (
        |  SELECT * FROM all0 WHERE o_totalprice < 420000.0
        |), fin AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 100 = 50 THEN '7-MOVED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice
        |  FROM del
        |), m1 AS (
        |  SELECT o_orderpriority, o_custkey, count(*) AS n1,
        |         sum(CAST(o_totalprice AS DECIMAL(28,10))) AS rev
        |  FROM fin GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT o_orderpriority, count(*) AS n_groups,
        |       count(DISTINCT n1) AS n_sizes,
        |       CAST(round(sum(rev), 2) AS DOUBLE) AS total,
        |       CAST(round(max(rev), 2) AS DOUBLE) AS hi
        |FROM m1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_starview" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
        |         o_totalprice + 70000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL SELECT * FROM ins
        |), upd AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 3 THEN
        |                CASE WHEN o_totalprice < 100000.0
        |                     THEN o_totalprice + 350000.0
        |                     ELSE o_totalprice - 50000.0 END
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM all0
        |), fin AS (
        |  SELECT * FROM upd WHERE o_totalprice < 390000.0
        |), cust2 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 7 THEN 'SEG-MOVED'
        |              ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |), v AS (
        |  SELECT c_mktsegment, o_orderkey, o_custkey,
        |         o_totalprice * 2 AS net
        |  FROM fin JOIN cust2 ON o_custkey = c_custkey
        |  WHERE o_totalprice < 400000.0
        |)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       max(net) AS hi_net,
        |       CAST(round(sum(CAST(net AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS net_rev
        |FROM v WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_mv_minmax" ->
      """WITH ins AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey,
        |         '9-INSERTED' AS o_orderpriority,
        |         o_orderdate, o_totalprice + 50000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), all0 AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice
        |  FROM orders
        |  UNION ALL SELECT * FROM ins
        |), upd AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderdate,
        |         CASE WHEN o_totalprice >= 450000.0
        |              THEN o_totalprice - 400000.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM all0
        |), fin AS (
        |  SELECT * FROM upd WHERE o_totalprice >= 5000.0
        |)
        |SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS oy,
        |       count(*) AS n_orders,
        |       min(o_totalprice) AS lo_price,
        |       max(o_totalprice) AS hi_price,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS revenue
        |FROM fin WHERE o_orderkey % 2 = 0
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY 1, 2""".stripMargin,

    "lake_sql_insert" ->
      """WITH u AS (
        |  SELECT o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT '9-INSERTED' FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_update" ->
      """SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |            ELSE o_orderpriority END AS o_orderpriority,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_delete" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_totalprice >= 50000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_restore" ->
      """WITH upd AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders),
        |ph AS (
        |  SELECT 'restored' AS phase, o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'clone', o_orderpriority FROM upd)
        |SELECT phase, o_orderpriority, count(*) AS n_orders
        |FROM ph GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_sql_maintenance" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_merge_conditional" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 AND o_totalprice >= 200000
        |              THEN '0-UPDATED' ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders
        |  WHERE NOT (o_orderkey % 100 = 0 AND o_totalprice < 100000)
        |  UNION ALL
        |  SELECT '9-INSERTED' FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_string_pruning" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_time_travel" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_sql_changes" ->
      """WITH ch AS (
        |  SELECT 'insert' AS change_type, '9-INSERTED' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', '0-UPDATED'
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'delete', o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 7
        |)
        |SELECT change_type, o_orderpriority, count(*) AS n_rows
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_date_pruning" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_partition_pruning" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_mor_delete" ->
      """WITH base AS (
        |  SELECT o_orderpriority, count(*) AS n_orders
        |  FROM orders WHERE o_orderkey % 100 <> 0 GROUP BY 1),
        |aft AS (
        |  SELECT o_orderpriority, count(*) AS n_orders FROM (
        |    SELECT CASE WHEN o_orderkey % 200 = 0 THEN '5-REVIVED'
        |                ELSE o_orderpriority END AS o_orderpriority
        |    FROM orders
        |    WHERE o_orderkey % 100 <> 0 OR o_orderkey % 200 = 0)
        |  GROUP BY 1)
        |SELECT 'compacted' AS phase, o_orderpriority, n_orders FROM aft
        |UNION ALL
        |SELECT 'deferred', o_orderpriority, n_orders FROM base
        |UNION ALL
        |SELECT 'merged', o_orderpriority, n_orders FROM aft
        |ORDER BY phase, o_orderpriority""".stripMargin,

    "lake_mor_changes" ->
      """WITH ch AS (
        |  SELECT 'delete' AS change_type, o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 7 AND o_orderkey <= 1500
        |  UNION ALL
        |  SELECT 'update_postimage', '7-UPDATED'
        |  FROM orders WHERE o_orderkey % 100 = 7 AND o_orderkey <= 1500
        |)
        |SELECT change_type, o_orderpriority, count(*) AS n_rows
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_range_slice" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_time_travel" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_schema_evolution" ->
      """WITH m AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 100 = 0 THEN 'BACKFILL'
        |              ELSE 'LEGACY' END AS channel,
        |         CASE WHEN o_orderkey % 100 = 0
        |              THEN (o_custkey % 10) * 1000000000
        |              ELSE o_custkey % 10 END AS flag
        |  FROM orders)
        |SELECT channel, o_orderpriority, count(*) AS n_rows,
        |       CAST(sum(flag) AS BIGINT) AS sum_flag,
        |       CAST(0 AS BIGINT) AS n_note
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_cdc_changes" ->
      """WITH ch AS (
        |  SELECT 'insert' AS change_type, '9-INSERTED' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', '0-UPDATED'
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT 'delete', o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 7
        |)
        |SELECT change_type, o_orderpriority, count(*) AS n_rows
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_mv_incremental" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice, o_orderkey
        |  FROM orders
        |  UNION ALL
        |  SELECT '9-INSERTED', o_totalprice, o_orderkey + 100000000
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
        |            AS DOUBLE) AS sum_price
        |FROM merged WHERE o_orderkey % 100 <> 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_partition_evolution" ->
      """WITH u AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderpriority, o_orderstatus
        |  FROM orders WHERE o_orderkey % 100 = 1),
        |g AS (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |  FROM u WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT phase, o_orderpriority, n_orders, sum_keys FROM (
        |  SELECT 'evolved' AS phase, * FROM g
        |  UNION ALL
        |  SELECT 'migrated', * FROM g
        |) ORDER BY 1, 2""".stripMargin,

    "lake_keyless" ->
      """WITH b AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id % 3 IN (0, 1, 2)
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id % 300 = 0),
        |d AS (
        |  -- mirror the verb's DELETE contract exactly: a NULL predicate
        |  -- KEEPS the row (coalesce), same as the engine's survivors
        |  SELECT * FROM b
        |  WHERE NOT coalesce(event_type = 'error' AND value < 5.0, false))
        |SELECT phase, event_type, n_events, sum_ids FROM (
        |  SELECT 'appended' AS phase, event_type, count(*) AS n_events,
        |         CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM b GROUP BY 2
        |  UNION ALL
        |  SELECT 'deleted', event_type, count(*),
        |         CAST(sum(event_id) AS BIGINT) FROM d GROUP BY 2
        |  UNION ALL
        |  SELECT 'compacted', event_type, count(*),
        |         CAST(sum(event_id) AS BIGINT) FROM d GROUP BY 2
        |) ORDER BY 1, 2""".stripMargin,

    "lake_delete_erasure" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE o_orderkey % 100 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_merge_cow" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN '0-UPDATED'
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT '9-INSERTED' FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)

  /** One RESOLVED snapshot — the complete file/tombstone state AT
    * `version`, reconstructed from the delta chain (see [[Delta]]).
    * `operation` records provenance (create/merge/…) the way table formats
    * keep a commit history. `statsCols` lists the extra columns every file
    * entry carries bounds for — fixed at [[create]], threaded through every
    * rewrite. `tombstones` are MERGE-ON-READ key-delete files
    * ([[LakeTable.deleteDeferred]]) applied as an anti-join at read time
    * until a [[LakeTable.compact]] folds them. `partitionCols` names the
    * hive-style directory-partition columns, if the table was created
    * with any. */
  case class Manifest(version: Int, parentVersion: Int, operation: String,
                      keyCol: String, files: Seq[FileEntry],
                      statsCols: Seq[String] = Nil,
                      tombstones: Seq[FileEntry] = Nil,
                      partitionCols: Seq[String] = Nil,
                      schemaDdl: Option[String] = None,
                      columnMap: Map[String, String] = Map.empty,
                      constraints: Map[String, String] = Map.empty,
                      droppedCols: Seq[String] = Nil)

  /** One COMMIT — what the `v%05d.json` manifest file actually stores.
    * A commit's payload is proportional to WHAT CHANGED (`adds` /
    * `removes` by path), never to the table's file count: at the 100 TB
    * design point (~400k files) a one-file streaming merge writes a
    * few hundred bytes, not a 40 MB snapshot. Self-anchoring commits
    * (create, compact, restore, clone — operations whose output IS a
    * complete file list) set `full = true`: their `adds` are the whole
    * state and resolution stops there. Between anchors, every
    * `checkpointInterval`-th commit also writes a sibling parquet
    * checkpoint (`v%05d.ckpt.parquet`, readable as a DataFrame), so
    * resolving any version replays a bounded suffix of deltas — the
    * delta-log + periodic-checkpoint shape every open table format
    * converged on. */
  case class Delta(version: Int, parentVersion: Int, operation: String,
                   keyCol: String, statsCols: Seq[String],
                   partitionCols: Seq[String], full: Boolean,
                   adds: Seq[FileEntry], removes: Seq[String],
                   tombstoneAdds: Seq[FileEntry],
                   tombstoneRemoves: Seq[String],
                   commitTs: Long = -1L,
                   schemaDdl: Option[String] = None,
                   // LOGICAL → PHYSICAL column names for columns renamed
                   // after create (column mapping, Delta's columnMapping
                   // idea): files and manifest metadata always speak
                   // PHYSICAL names; reads project physical → logical, so
                   // rename and drop are metadata-only commits. Carried
                   // FULL by every delta, like schemaDdl.
                   columnMap: Map[String, String] = Map.empty,
                   // CHECK constraints (name → boolean SQL expression in
                   // LOGICAL column names): every verb that introduces
                   // row content enforces them IN the write (per-row
                   // assert inside the task — no extra pass), the Delta
                   // invariant idea. Carried FULL, like the schema.
                   constraints: Map[String, String] = Map.empty,
                   // PHYSICAL names of columns dropped by ALTER … DROP
                   // COLUMN whose bytes may still sit in carried files.
                   // Permanently RESERVED: a later column of the same
                   // name maps to a FRESH physical name (see
                   // [[LakeTable.remapReAdded]]), so stale pre-drop
                   // bytes can never read back as the new column's
                   // values. Carried FULL, like the column map.
                   droppedCols: Seq[String] = Nil,
                   // PROTOCOL marker: feature names a reader/writer MUST
                   // understand to interpret this commit's state
                   // correctly. Stamped automatically at commit time
                   // ([[LakeTable.commitDelta]] derives them from the
                   // delta's own metadata — verbs never hand-maintain
                   // the list), checked on every manifest read
                   // ([[LakeTable.readDelta]]): an engine build that does
                   // not know a required feature REFUSES the table loudly
                   // instead of misreading it — the Delta protocol-version
                   // lesson. Absent on pre-versioning manifests = implicit
                   // v1: no requirements, read unchanged.
                   requiredFeatures: Seq[String] = Nil)

  /** Every protocol feature THIS engine build understands. A manifest
    * whose `requiredFeatures` go beyond this set refuses every verb —
    * see [[Delta.requiredFeatures]]. */
  val supportedFeatures: Set[String] = Set(
    "column-mapping",     // logical→physical rename indirection
    "dropped-columns",    // physical-name reservation after DROP COLUMN
    "check-constraints",  // CHECK enforced in every write
    "keyless",            // keyCol = "" append-log sentinel
    "deferred-deletes",   // merge-on-read tombstone files
    "partition-evolution",// multi-era hive layouts under one spec
    "string-keys"         // STRING merge key: minKey/maxKey hold the
                          // 8-byte-prefix order embedding, not values —
                          // a build without this feature would misread
                          // them as castable key values
  )

  /** The features `d`'s state actually uses — what a reader must
    * understand to interpret it. Derived, never hand-maintained. */
  private[sources] def featuresOf(d: Delta): Seq[String] = Seq(
    if (d.columnMap.nonEmpty) Some("column-mapping") else None,
    if (d.droppedCols.nonEmpty) Some("dropped-columns") else None,
    if (d.constraints.nonEmpty) Some("check-constraints") else None,
    if (d.keyCol.isEmpty) Some("keyless") else None,
    if (d.tombstoneAdds.nonEmpty) Some("deferred-deletes") else None,
    // the spec-evolution commit itself, plus any commit whose adds span
    // a layout era other than the current spec's (incl. full anchors of
    // evolved tables — their adds are the whole state)
    if (d.operation == "alter-partitioning" ||
        d.adds.exists(f => Lake.hiveSig(f.path).map(_.toLowerCase) !=
          d.partitionCols.map(_.toLowerCase)))
      Some("partition-evolution")
    else None,
    // STRING merge key: any file entry's minKey/maxKey are the order
    // embedding, which a pre-feature build would misread as key values.
    // The key type comes from the commit's own schema; the key may be
    // recorded under its physical name while the schema carries the
    // logical one, so both spellings are probed
    if (d.keyCol.nonEmpty && d.schemaDdl.exists { ddl =>
      val logical = d.columnMap.collectFirst {
        case (l, p) if p == d.keyCol => l }.getOrElse(d.keyCol)
      scala.util.Try(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .toOption.exists(_.fields.exists(f =>
          (f.name.equalsIgnoreCase(d.keyCol) ||
            f.name.equalsIgnoreCase(logical)) &&
            f.dataType == org.apache.spark.sql.types.StringType))
    }) Some("string-keys") else None).flatten

  /** Atomically publish `tmp` at `dest`, returning false (claim lost) if
    * `dest` exists — the commit primitive for manifests and catalog
    * entries. Scheme-aware because POSIX rename REPLACES an existing
    * destination (Hadoop's local rename returns true and overwrites —
    * two racers would both "win" and one commit would silently vanish):
    * on `file://` the hard link is the atomic fail-if-exists operation,
    * falling back to exists+rename on link-incapable local mounts
    * (CIFS/FAT/FUSE — the pre-link behavior: the exists pre-check
    * narrows the replace window but cannot close it). HDFS rename
    * atomically refuses an existing destination; object stores without
    * atomic rename put a lock service or conditional-put behind this
    * same seam, as the manifest-commit class doc has always stated.
    * `tmp` is always consumed: linked-then-deleted, renamed away, or
    * deleted on a lost claim or failure. */
  private[sources] def publishAtomic(fs: FileSystem, tmp: Path,
                                     dest: Path): Boolean = {
    val local = fs.getUri.getScheme == "file"
    try {
      val won =
        if (local) {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dest.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case scala.util.control.NonFatal(_) =>
              !fs.exists(dest) && fs.rename(tmp, dest)
          }
        } else !fs.exists(dest) && fs.rename(tmp, dest)
      if (local || !won) fs.delete(tmp, false)
      won
    } catch {
      case e: Throwable => // never leak the tmp, whatever failed
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** A resolved state as a full, self-anchoring Delta (legacy-manifest
    * reads, the restore/clone commit shape, and the base of every verb's
    * next delta) — the one place a manifest's carried metadata is copied
    * field by field. */
  private[graft] def fullDelta(m: Manifest): Delta = {
    import m._
    Delta(version, parentVersion, operation, keyCol, statsCols, partitionCols,
      full = true, adds = files, removes = Nil, tombstoneAdds = tombstones,
      tombstoneRemoves = Nil, schemaDdl = schemaDdl, columnMap = columnMap,
      constraints = constraints, droppedCols = droppedCols)
  }

  /** Result of a [[LakeTable.merge]] — what a COW commit did. */
  case class MergeStats(version: Int, keptFiles: Int, rewrittenFiles: Int,
                        addedFiles: Int, updateRows: Long)

  /** One parquet-checkpoint row — one data or tombstone file of the
    * resolved state, per-column bounds as parallel (name, min, max)
    * arrays. `idx` preserves manifest order across the parquet
    * round-trip (carried-by-reference file order is part of the
    * resolution contract). */
  private[sources] case class CkptRow(idx: Int, kind: String, path: String,
                                      rows: Long, minKey: Long, maxKey: Long,
                                      colNames: Seq[String],
                                      colMins: Seq[Long], colMaxs: Seq[Long],
                                      strNames: Seq[String],
                                      strMins: Seq[String],
                                      strMaxs: Seq[String],
                                      nullNames: Seq[String] = Nil,
                                      nullCounts: Seq[Long] = Nil)

  /** The single decoder for parquet-checkpoint rows — resolution
    * ([[LakeTable]]) and pruning ([[LakeManifestPrune]]) must never
    * desynchronize on the row shape. Returns (kind, entry). */
  private[sources] def ckptEntry(
      r: org.apache.spark.sql.Row): (String, FileEntry) = {
    val names = r.getAs[scala.collection.Seq[String]]("colNames")
    val mins = r.getAs[scala.collection.Seq[Long]]("colMins")
    val maxs = r.getAs[scala.collection.Seq[Long]]("colMaxs")
    val cols = names.indices.map(i => names(i) -> ((mins(i), maxs(i)))).toMap
    val sNames = r.getAs[scala.collection.Seq[String]]("strNames")
    val sMins = r.getAs[scala.collection.Seq[String]]("strMins")
    val sMaxs = r.getAs[scala.collection.Seq[String]]("strMaxs")
    val scols = sNames.indices.map(i => sNames(i) -> ((sMins(i), sMaxs(i)))).toMap
    // pre-null-stats checkpoints lack the columns: read as unknown
    val nulls =
      if (r.schema.fieldNames.contains("nullNames")) {
        val nNames = r.getAs[scala.collection.Seq[String]]("nullNames")
        val nCounts = r.getAs[scala.collection.Seq[Long]]("nullCounts")
        nNames.indices.map(i => nNames(i) -> nCounts(i)).toMap
      } else Map.empty[String, Long]
    (r.getAs[String]("kind"),
      FileEntry(r.getAs[String]("path"), r.getAs[Long]("rows"),
        r.getAs[Long]("minKey"), r.getAs[Long]("maxKey"), cols, scols, nulls))
  }

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Create version 0 from `df`, clustered on `keyCol` into `numFiles`
    * disjoint-range files, and return the table handle. `statsCols` names
    * extra numeric/date/timestamp columns to keep per-file [min,max]
    * bounds for (beyond the key) — they ride every manifest from then on
    * and feed [[LakeManifestPrune]]'s non-key data skipping.
    * `partitionBy` lays data out in hive-style `<col>=<value>/`
    * directories; the partition column implicitly joins the stats set, so
    * manifest skipping and Spark's own partition pruning compose. */
  def create(spark: SparkSession, root: String, df: DataFrame, keyCol: String,
             numFiles: Int, statsCols: Seq[String] = Nil,
             partitionBy: Seq[String] = Nil, estRows: Long = -1L): LakeTable = {
    require(keyCol.nonEmpty,
      "create needs a merge key column — for a table with no natural " +
        "unique key (event logs, corpus shards) use createAppendLog")
    val t = new LakeTable(spark, root)
    t.init(df, keyCol, numFiles, statsCols, partitionBy, estRows)
    t
  }

  /** Create version 0 of a KEYLESS append-log table — the event-log /
    * corpus-shard shape, where rows have no natural unique key and
    * minting a surrogate would be a lie. Supported surface: appends
    * ([[LakeTable.insertAll]] / [[LakeTable.insertEpoch]] — blind, no
    * duplicate probe: an append LOG admits repeats by definition),
    * predicate copy-on-write DELETE/UPDATE ([[LakeTable.deleteWhere]] /
    * [[LakeTable.update]] — hit files found by one column-pruned scan),
    * every compaction/layout verb, stats/partition pruning, constraints,
    * schema evolution, time travel, restore, clone, vacuum, and the
    * change feed (pure-append commits stream file-sliced exactly as for
    * keyed tables; rewrite commits diff by row CONTENT as a multiset).
    * Key-addressed verbs — MERGE, delete-by-keys, deferred (tombstone)
    * deletes, epoch merge/replace sinks, key-range reads — refuse
    * loudly: without a key there is no row identity to address.
    * Clustering: files range-cluster on the leading `statsCols` entry
    * (if any) within partitions, so declared-column pruning stays tight;
    * key stats are sentinel (0, 0) and nothing reads them. */
  def createAppendLog(spark: SparkSession, root: String, df: DataFrame,
                      numFiles: Int, statsCols: Seq[String] = Nil,
                      partitionBy: Seq[String] = Nil): LakeTable = {
    val t = new LakeTable(spark, root)
    t.init(df, "", numFiles, statsCols, partitionBy)
    t
  }

  private def fileJson(statsCols: Seq[String])(f: FileEntry): ListMap[String, Any] =
    ListMap(
      "path" -> f.path, "rows" -> f.rows,
      "minKey" -> f.minKey, "maxKey" -> f.maxKey,
      "cols" -> statsCols.flatMap(c => f.cols.get(c).map(b =>
        c -> Seq(b._1, b._2))).to(ListMap),
      "scols" -> statsCols.flatMap(c => f.scols.get(c).map(b =>
        c -> Seq(b._1, b._2))).to(ListMap),
      "nulls" -> statsCols.flatMap(c => f.nulls.get(c).map(c -> _)).to(ListMap))

  /** Legacy full-snapshot manifest JSON (pre-delta format) — kept as a
    * WRITER only for test seams that craft racing manifests by hand;
    * [[fromJson]] reads both shapes. */
  private[graft] def toJson(m: Manifest): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(ListMap(
      "version" -> m.version, "parentVersion" -> m.parentVersion,
      "operation" -> m.operation, "keyCol" -> m.keyCol,
      "statsCols" -> m.statsCols,
      "partitionCols" -> m.partitionCols,
      "files" -> m.files.map(fileJson((m.keyCol +: m.statsCols).distinct)),
      "tombstones" -> m.tombstones.map(
        fileJson((m.keyCol +: m.statsCols).distinct))))

  private[graft] def toJson(d: Delta): String = {
    // partition-column bounds ride each entry's cols even when not in
    // statsCols (they're added implicitly at write), and the KEY's null
    // count rides nulls — serialize the union
    val colOrder = (d.keyCol +: (d.statsCols ++ d.partitionCols)).distinct
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(ListMap(
      "version" -> d.version, "parentVersion" -> d.parentVersion,
      "operation" -> d.operation, "keyCol" -> d.keyCol,
      "statsCols" -> d.statsCols,
      "partitionCols" -> d.partitionCols,
      "full" -> d.full,
      "commitTs" -> d.commitTs,
      "schemaDdl" -> d.schemaDdl.orNull,
      "columnMap" -> d.columnMap.toSeq.sortBy(_._1).to(ListMap),
      "constraints" -> d.constraints.toSeq.sortBy(_._1).to(ListMap),
      "droppedCols" -> d.droppedCols,
      "requiredFeatures" -> d.requiredFeatures,
      "adds" -> d.adds.map(fileJson(colOrder)),
      "removes" -> d.removes,
      "tombstoneAdds" -> d.tombstoneAdds.map(fileJson(colOrder)),
      "tombstoneRemoves" -> d.tombstoneRemoves))
  }

  private[graft] def fromJson(s: String): Delta = {
    val n = mapper.readTree(s)
    import scala.jdk.CollectionConverters._
    val statsCols =
      if (n.has("statsCols"))
        n.get("statsCols").elements().asScala.map(_.asText()).toSeq
      else Nil
    val partitionCols =
      if (n.has("partitionCols"))
        n.get("partitionCols").elements().asScala.map(_.asText()).toSeq
      else if (n.has("partitionCol") && !n.get("partitionCol").isNull)
        Seq(n.get("partitionCol").asText()) // pre-multi-column manifests
      else Nil
    def entries(field: String): Seq[FileEntry] =
      if (!n.has(field)) Nil
      else n.get(field).elements().asScala.map { f =>
        val cols =
          if (f.has("cols"))
            f.get("cols").fields().asScala.map { e =>
              val b = e.getValue
              e.getKey -> ((b.get(0).asLong(), b.get(1).asLong()))
            }.toMap
          else Map.empty[String, (Long, Long)]
        val scols =
          if (f.has("scols"))
            f.get("scols").fields().asScala.map { e =>
              val b = e.getValue
              e.getKey -> ((b.get(0).asText(), b.get(1).asText()))
            }.toMap
          else Map.empty[String, (String, String)]
        val nulls =
          if (f.has("nulls"))
            f.get("nulls").fields().asScala.map(e =>
              e.getKey -> e.getValue.asLong()).toMap
          else Map.empty[String, Long]
        FileEntry(
          f.get("path").asText(), f.get("rows").asLong(),
          f.get("minKey").asLong(), f.get("maxKey").asLong(), cols, scols,
          nulls)
      }.toSeq
    def strings(field: String): Seq[String] =
      if (!n.has(field)) Nil
      else n.get(field).elements().asScala.map(_.asText()).toSeq
    val (version, parent, op, keyCol) = (
      n.get("version").asInt(), n.get("parentVersion").asInt(),
      n.get("operation").asText(), n.get("keyCol").asText())
    if (n.has("files")) // legacy full-snapshot manifest: read as an anchor
      Delta(version, parent, op, keyCol, statsCols, partitionCols,
        full = true, adds = entries("files"), removes = Nil,
        tombstoneAdds = entries("tombstones"), tombstoneRemoves = Nil)
    else
      Delta(version, parent, op, keyCol, statsCols, partitionCols,
        full = n.has("full") && n.get("full").asBoolean(),
        adds = entries("adds"), removes = strings("removes"),
        tombstoneAdds = entries("tombstoneAdds"),
        tombstoneRemoves = strings("tombstoneRemoves"),
        commitTs = if (n.has("commitTs")) n.get("commitTs").asLong() else -1L,
        schemaDdl =
          if (n.has("schemaDdl") && !n.get("schemaDdl").isNull)
            Some(n.get("schemaDdl").asText())
          else None,
        columnMap =
          if (n.has("columnMap"))
            n.get("columnMap").fields().asScala.map(e =>
              e.getKey -> e.getValue.asText()).toMap
          else Map.empty,
        constraints =
          if (n.has("constraints"))
            n.get("constraints").fields().asScala.map(e =>
              e.getKey -> e.getValue.asText()).toMap
          else Map.empty,
        droppedCols = strings("droppedCols"),
        requiredFeatures = strings("requiredFeatures"))
  }

  /** Normalize a column to the Long STAT UNITS the manifest stores:
    * integral columns cast as-is, DATE → days since epoch, TIMESTAMP →
    * micros since epoch (TIMESTAMP_NTZ via a session-zone cast — sessions
    * run UTC, so the micros are the naive reading). [[LakeManifestPrune]]
    * extracts predicate bounds in the SAME units (a DateType literal is
    * days, a TimestampType literal is micros), so stats and bounds always
    * compare in one coordinate system.
    *
    * STRING columns embed ORDER-PRESERVINGLY (non-strict) as the first 8
    * UTF-8 bytes, zero-padded, read big-endian unsigned and shifted into
    * the signed domain: s₁ ≤ s₂ in UTF-8 byte order (exactly Spark's
    * string comparison order) ⇒ emb(s₁) ≤ emb(s₂), for EVERY string —
    * ASCII or not. Ties beyond the 8-byte prefix make the embedding a
    * CONSERVATIVE coordinate: ranges built from it contain all true
    * values (no false negatives in any overlap probe), they just may
    * admit prefix-sharing neighbors. This is what lets STRING MERGE KEYS
    * ride the same [minKey, maxKey] machinery as integral keys — the
    * internal probes (merge hit detection, insert conflicts, tombstone
    * ranges, key-range reads) all compare embeddings on both sides.
    * EXACT string pruning stays with the truncated-string scols bounds
    * ([[StrBoundLen]]); the embedding never reaches a user-visible
    * value (the metadata-aggregate rule's `exactStatType` excludes
    * strings). */
  private[graft] def statLong(df: DataFrame, c: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("long")
      case TimestampType => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case StringType =>
        // conv(hex, 16, 10) yields the UNSIGNED 64-bit value as a decimal
        // string; subtracting 2^63 in DECIMAL(20,0) is the exact
        // sign-shift that preserves unsigned order in the signed domain
        (conv(hex(rpad(substring(encode(col(c), "UTF-8"), 1, 8), 8,
            Array[Byte](0))), 16, 10)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0))
          - lit(new java.math.BigDecimal("9223372036854775808")))
          .cast("long")
      case _ => col(c).cast("long")
    }
  }

  /** Widened result of two column types, or None when incompatible:
    * integral chains widen up (byte → short → int → long), FLOAT widens
    * to DOUBLE — exactly the promotions the parquet readers perform when
    * handed a wider read schema (probed and spec-pinned), so files
    * written before the widening stay readable in place. */
  private[graft] def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val rank = Map[DataType, Int](
      ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    if (a == b) Some(a)
    else (rank.get(a), rank.get(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ => (a, b) match {
        case (FloatType, DoubleType) | (DoubleType, FloatType) =>
          Some(DoubleType)
        case _ => None
      }
    }
  }

  /** The table schema after a merge: existing data columns widen against
    * the update batch (incompatible types refuse loudly), brand-new
    * columns append nullable, partition columns stay put LAST — the
    * stored read order. */
  private[graft] def widenSchema(
      table: org.apache.spark.sql.types.StructType,
      updates: org.apache.spark.sql.types.StructType,
      pcols: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val updByName = updates.fields.map(f => f.name.toLowerCase -> f).toMap
    val tableNames = table.fields.map(_.name.toLowerCase).toSet
    val widened = table.fields.map { tf =>
      if (pcols.exists(_.equalsIgnoreCase(tf.name))) tf
      else updByName.get(tf.name.toLowerCase) match {
        case Some(uf) =>
          val dt = widenType(tf.dataType, uf.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"merge cannot change column '${tf.name}' from " +
                s"${tf.dataType.simpleString} to ${uf.dataType.simpleString}: " +
                "only widening promotions (integral up-casts, float to " +
                "double) evolve through MERGE"))
          tf.copy(dataType = dt)
        case None => tf
      }
    }
    val newCols = updates.fields
      .filterNot(f => tableNames.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true))
    val (pFields, dFields) =
      widened.partition(f => pcols.exists(_.equalsIgnoreCase(f.name)))
    StructType((dFields ++ newCols ++ pFields)
      .map(f => f.copy(nullable = true)))
  }

  /** Timestamp argument accepted by the `timestampAsOf` option and the
    * `graft_lake_at` table function: epoch millis, or an ISO-8601 instant
    * (`2026-08-14T12:00:00Z`). */
  def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse(java.time.Instant.parse(s).toEpochMilli)

  /** Bounded, access-ordered LRU map — metadata caches must not grow with
    * the number of table roots a long-lived JVM touches (every gated lane
    * builds a fresh tempdir root per invocation). */
  private[sources] def lruMap[K, V](maxEntries: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > maxEntries
      })

  /** root@version → parsed Delta. Committed deltas are immutable, so
    * entries never invalidate — only age out. */
  private[sources] val deltaCache = lruMap[String, Delta](4096)

  /** root@version → resolved (files, tombstones). Written by every commit
    * for its own new version (so the next planning pass replays ZERO
    * deltas) and by cold resolutions. */
  private[sources] val stateCache =
    lruMap[String, (Seq[FileEntry], Seq[FileEntry])](256)

  /** Test/audit seam: drop every metadata cache (delta, state, prune
    * stats) so the next resolution is measurably cold. */
  private[graft] def clearMetadataCaches(): Unit = {
    deltaCache.clear()
    stateCache.clear()
    LakeManifestPrune.clearCache()
  }
}

/** Handle to a [[Lake]] table rooted at `root`. See object doc for the
  * format contract.
  *
  * METADATA SHAPE (the 100 TB contract): every verb commits a [[Lake.Delta]]
  * whose payload is O(files changed); reading any version resolves
  * backwards to the nearest ANCHOR — a `full` delta (create / compact /
  * restore / clone) or a parquet checkpoint (written every
  * `spark.graft.lake.checkpointInterval` commits, default 16) — then
  * replays the bounded delta suffix. Commits index their own resolved
  * state into a bounded LRU ([[Lake.stateCache]]), so the planning pass
  * after a streaming micro-commit replays zero deltas and re-parses
  * nothing. At the knob sheet's ~400k-file design point a one-file merge
  * writes a few hundred bytes of manifest, not a 40 MB snapshot. */
class LakeTable(spark: SparkSession, val root: String) {
  import Lake._

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(rootPath, "_manifests")
  private def dataDir = new Path(rootPath, "data")

  private def manifestPath(v: Int) = new Path(manifestDir, f"v$v%05d.json")
  private def ckptPath(v: Int) = new Path(manifestDir, f"v$v%05d.ckpt.parquet")
  private def hasCkpt(v: Int): Boolean = fs.exists(ckptPath(v))

  private def checkpointInterval: Int =
    spark.conf.get("spark.graft.lake.checkpointInterval", "16").toInt

  /** Highest committed snapshot version (manifests are rename-committed,
    * so every listed file is complete). */
  def latestVersion: Int = {
    val st = fs.listStatus(manifestDir)
    st.iterator.map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{5}\\.json") => s.substring(1, 6).toInt }
      .max
  }

  /** True iff `version`'s manifest is still on disk (vacuum removes
    * expired ones — history walks should skip, not crash). */
  def hasVersion(version: Int): Boolean = fs.exists(manifestPath(version))

  private def readDelta(v: Int): Delta = {
    val key = s"$root@$v"
    val c = deltaCache.get(key)
    if (c != null) c
    else {
      val in = fs.open(manifestPath(v))
      val d = try fromJson(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
      // protocol gate — the ONE chokepoint every verb's manifest access
      // funnels through: a commit requiring a feature this build does not
      // know refuses loudly (reading on anyway would silently misread the
      // table — wrong columns, missed tombstones, a misgrouped layout).
      // Pre-versioning manifests carry no requirements: implicit v1.
      val unknown = d.requiredFeatures.filterNot(Lake.supportedFeatures)
      if (unknown.nonEmpty) throw new IllegalStateException(
        s"lake table at $root: commit v$v requires protocol feature(s) " +
          s"${unknown.mkString("'", "', '", "'")} that this engine build " +
          "does not support (it knows: " +
          Lake.supportedFeatures.toSeq.sorted.mkString(", ") + "). " +
          "Upgrade the engine to read this table — refusing now avoids " +
          "a silent misread")
      deltaCache.put(key, d)
      d
    }
  }

  private def applyDelta(files: Seq[FileEntry], tombs: Seq[FileEntry],
                         d: Delta): (Seq[FileEntry], Seq[FileEntry]) =
    if (d.full) (d.adds, d.tombstoneAdds)
    else {
      val rm = d.removes.toSet
      val trm = d.tombstoneRemoves.toSet
      (files.filterNot(f => rm(f.path)) ++ d.adds,
        tombs.filterNot(f => trm(f.path)) ++ d.tombstoneAdds)
    }

  /** Resolve the complete (files, tombstones) state at `v`: walk back to
    * the nearest anchor — a cached state, a `full` delta, or a parquet
    * checkpoint — then fold the delta suffix forward. Carried-by-reference
    * file ORDER is preserved across commits (removes delete in place,
    * adds append), so resolution is deterministic. */
  private def resolveState(v: Int): (Seq[FileEntry], Seq[FileEntry]) = {
    val key = s"$root@$v"
    val hit = stateCache.get(key)
    if (hit != null) return hit
    var chain = List.empty[Delta]
    var w = v
    var base: (Seq[FileEntry], Seq[FileEntry]) = null
    while (base == null) {
      val cached = if (w < v) stateCache.get(s"$root@$w") else null
      if (cached != null) base = cached
      else {
        val d = readDelta(w)
        if (d.full) base = (d.adds, d.tombstoneAdds)
        else if (hasCkpt(w)) base = readCheckpoint(w)
        else {
          chain ::= d
          w -= 1
          require(w >= 0, s"version $v has no resolvable anchor under $root")
        }
      }
    }
    val st = chain.foldLeft(base)((s, d) => applyDelta(s._1, s._2, d))
    stateCache.put(key, st)
    st
  }

  /** The raw per-version commit delta (package-private: the change-feed
    * source classifies commits and sizes admission spans from the adds'
    * metadata row counts — never from data I/O). */
  private[sources] def commitDeltaOf(v: Int): Delta = readDelta(v)

  /** Change-feed slice of a PURE-APPEND commit: the rows of `files` (a
    * subset of v's adds) as `insert` events in v's LOGICAL shape —
    * exactly what `changes(v-1, v)` emits for those files, without the
    * diff join (an append commit removes nothing and leaves tombstones
    * untouched, and [[insertAll]] refuses tombstoned keys, so every
    * added row is a live insert). Lets the stream source split one
    * oversized backfill commit across bounded micro-batches. */
  private[sources] def insertSliceFeed(v: Int, files: Seq[FileEntry])
      : DataFrame = {
    val m = manifest(v)
    toLogical(m, readFiles(m, files))
      .withColumn("_change_type", lit("insert"))
  }

  def manifest(version: Int): Manifest = {
    require(hasVersion(version),
      s"version $version does not exist (or was vacuumed) under $root")
    val d = readDelta(version)
    val (files, tombs) = resolveState(version)
    Manifest(d.version, d.parentVersion, d.operation, d.keyCol, files,
      d.statsCols, tombs, d.partitionCols, d.schemaDdl, d.columnMap,
      d.constraints, d.droppedCols)
  }

  /** Write the resolved state at `v` as a single parquet checkpoint file
    * (`v%05d.ckpt.parquet`) — distributed-readable as a DataFrame, and the
    * resolution anchor that lets vacuum drop older deltas. Derived data:
    * a racing checkpointer of the same version is harmless (first rename
    * wins, content is identical). */
  private def writeCheckpoint(v: Int, files: Seq[FileEntry],
                              tombs: Seq[FileEntry]): Unit = {
    def rowsOf(kind: String, fsq: Seq[FileEntry], off: Int): Seq[CkptRow] =
      fsq.zipWithIndex.map { case (f, i) =>
        val names = f.cols.keys.toSeq.sorted
        val sNames = f.scols.keys.toSeq.sorted
        val nNames = f.nulls.keys.toSeq.sorted
        CkptRow(off + i, kind, f.path, f.rows, f.minKey, f.maxKey,
          names, names.map(f.cols(_)._1), names.map(f.cols(_)._2),
          sNames, sNames.map(f.scols(_)._1), sNames.map(f.scols(_)._2),
          nNames, nNames.map(f.nulls))
      }
    val all = rowsOf("data", files, 0) ++ rowsOf("tombstone", tombs, files.size)
    val tmp = new Path(rootPath, s"_scratch-ckpt-${UUID.randomUUID()}")
    try {
      spark.createDataset(all)(org.apache.spark.sql.Encoders.product[CkptRow])
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).iterator.map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"checkpoint write for v$v produced no part file"))
      val dest = ckptPath(v)
      if (!fs.exists(dest)) fs.rename(part, dest)
    } finally fs.delete(tmp, true)
  }

  private def readCheckpoint(v: Int): (Seq[FileEntry], Seq[FileEntry]) = {
    val entries = spark.read.parquet(ckptPath(v).toString).collect()
      .sortBy(_.getAs[Int]("idx")).map(ckptEntry)
    (entries.collect { case ("data", f) => f }.toSeq,
      entries.collect { case ("tombstone", f) => f }.toSeq)
  }

  /** Multi-file scan of `entries`, resolving manifest-relative paths under
    * the table root (shallow-clone entries are absolute and resolve as-is).
    * Partitioned tables read with `basePath` so hive directory values come
    * back as a real column; an explicit `schema` (the change feed's fixed
    * shape) skips the footer-merging pass. */
  private def readFiles(m: Manifest, entries: Seq[FileEntry],
                        schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val target = schema.orElse(
      m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL))
    def readGroup(fsq: Seq[FileEntry]): DataFrame = {
      var r = spark.read
      // the manifest's stored schema (when present) replaces the footer-
      // merging pass AND carries type widening: files written before an
      // INT→LONG / FLOAT→DOUBLE evolution read back promoted in place
      r = target match {
        case Some(s) => r.schema(s)
        case None => r.option("mergeSchema", "true")
      }
      // hive recovery when the group's files sit in partition dirs —
      // under the CURRENT spec or a pre-evolution era's (a snapshot
      // evolved AWAY from partitioning still holds files whose values
      // live only in the path). NOT unconditional: a shallow clone's
      // entries resolve OUTSIDE this root's data dir, where a stray
      // basePath makes Spark's file index refuse the read
      if (m.partitionCols.nonEmpty ||
          fsq.exists(f => Lake.hiveSig(f.path).nonEmpty))
        r = r.option("basePath", dataDir.toString)
      val df = r.parquet(fsq.map(f => new Path(rootPath, f.path).toString): _*)
      // Spark repositions path-recovered partition columns LAST even
      // under a user-specified schema, so two layout eras come back in
      // DIFFERENT column orders — normalize every group to the stored
      // order, or positional consumers (exceptAll diffs, union-by-
      // position, spec row comparisons) silently misalign columns
      target match {
        case Some(s) if df.columns.toSeq != s.fieldNames.toSeq =>
          df.select(s.fieldNames.map(col(_)).toSeq: _*)
        case _ => df
      }
    }
    // PARTITION-SPEC EVOLUTION leaves files from different layout eras in
    // one snapshot. Hive recovery needs one CONSISTENT directory
    // signature per scan, so files group by the columns their subpath
    // encodes and each era scans separately; the explicit stored schema
    // makes every group resolve every logical column (a column a group's
    // paths don't encode is IN its file bytes — it was an ordinary data
    // column when those files were written) in the same order, so the
    // union is shape-stable. Single-era snapshots (the overwhelmingly
    // common case) keep the one-scan fast path.
    val bySig = entries.groupBy(f => Lake.hiveSig(f.path))
    if (bySig.size <= 1) readGroup(entries)
    else {
      require(target.isDefined,
        "mixed partition layouts need a recorded table schema")
      bySig.toSeq.sortBy(_._1.mkString(","))
        .map { case (_, fsq) => readGroup(fsq) }
        .reduce(_ unionByName _)
    }
  }

  /** PHYSICAL → LOGICAL projection for a column-mapped snapshot: files
    * (and everything manifest-side) speak physical names; readers see the
    * logical ones. Identity when the table was never renamed. Catalyst
    * pushes filters through the aliasing Project with names rewritten, so
    * manifest pruning and parquet pushdown keep working on the physical
    * scan untouched. */
  private def toLogical(m: Manifest, df: DataFrame): DataFrame =
    if (m.columnMap.isEmpty) df
    else {
      val rev = m.columnMap.map(_.swap)
      df.select(df.columns.toSeq.map(c => col(c).as(rev.getOrElse(c, c))): _*)
    }

  /** LOGICAL → PHYSICAL projection for verb inputs. A frame column that
    * collides with a renamed column's PHYSICAL storage name (a "ghost")
    * or a DROPPED column's physical name refuses unless the column map
    * routes it elsewhere — accepting it would write (or read back) two
    * meanings of one physical column. Verbs that can legitimately
    * introduce such a column (schema-widening merge/insert, ADD COLUMN)
    * extend the map FIRST via [[remapReAdded]], which assigns a fresh
    * physical name. */
  private def toPhysical(m: Manifest, df: DataFrame): DataFrame =
    if (m.columnMap.isEmpty && m.droppedCols.isEmpty) df
    else {
      val reserved = (m.columnMap.values.toSet -- m.columnMap.keySet) ++
        m.droppedCols
      df.columns.foreach(c => require(
        !reserved.contains(c) || m.columnMap.contains(c),
        s"column name '$c' is reserved by a renamed or dropped column's " +
          "physical storage — pick another name (or, for a dropped name, " +
          "re-add it through a schema-evolving merge / ADD COLUMN, which " +
          "maps it to fresh physical storage)"))
      df.select(df.columns.toSeq.map(c =>
        col(c).as(m.columnMap.getOrElse(c, c))): _*)
    }

  /** A physical column name not yet taken by the schema, the column map,
    * or the dropped-name reservations: `<name>_2`, `<name>_3`, … */
  private def freshPhysical(name: String, taken: Set[String]): String = {
    var i = 2
    while (taken.contains(s"${name}_$i".toLowerCase)) i += 1
    s"${name}_$i"
  }

  /** Route NEW logical columns in `df` that collide with a DROPPED
    * column's reserved physical name onto FRESH physical storage (the
    * Delta columnMapping idea): the returned manifest's column map sends
    * the re-added logical name to `<name>_k`, so the pre-drop bytes
    * still sitting in carried files stay unreachable forever — re-adding
    * 'flag' after `DROP COLUMN flag` can never resurrect old values.
    * Identity when nothing collides. Used by every verb that can WIDEN
    * the schema (merge, insert, ADD COLUMN) before its
    * [[toPhysical]]/[[Lake.widenSchema]] pass; the extended map rides
    * the verb's commit. */
  private def remapReAdded(m: Manifest, newLogicalCols: Seq[String]): Manifest = {
    if (m.droppedCols.isEmpty || newLogicalCols.isEmpty) return m
    val dropped = m.droppedCols.map(_.toLowerCase).toSet
    // the batch's OTHER new logical names are taken too: a widening that
    // re-adds dropped 'x' alongside a brand-new column literally named
    // 'x_2' must not route both onto physical 'x_2'
    var taken = m.droppedCols.map(_.toLowerCase).toSet ++
      m.columnMap.values.map(_.toLowerCase) ++
      m.schemaDdl.toSeq.flatMap(ddl => org.apache.spark.sql.types
        .StructType.fromDDL(ddl).fields.map(_.name.toLowerCase)) ++
      newLogicalCols.map(_.toLowerCase)
    val extra = newLogicalCols
      .filter(c => !m.columnMap.contains(c) && dropped.contains(c.toLowerCase))
      .map { c =>
        val fresh = freshPhysical(c, taken)
        taken += fresh.toLowerCase
        c -> fresh
      }
    if (extra.isEmpty) m else m.copy(columnMap = m.columnMap ++ extra)
  }

  /** The logical column names `df` would ADD to `m`'s recorded schema
    * (case-insensitive; empty when the table has no recorded schema —
    * legacy tables cannot have dropped columns either). */
  private def newLogicalCols(m: Manifest, df: DataFrame): Seq[String] =
    m.schemaDdl match {
      case None => Nil
      case Some(ddl) =>
        val known = org.apache.spark.sql.types.StructType.fromDDL(ddl)
          .fields.map(f => logicalName(m, f.name).toLowerCase).toSet
        df.columns.toSeq.filterNot(c => known.contains(c.toLowerCase))
    }

  /** The LOGICAL name of a physically-named column (key, partition,
    * stats cols are stored physical). */
  private def logicalName(m: Manifest, physical: String): String =
    m.columnMap.collectFirst { case (l, p) if p == physical => l }
      .getOrElse(physical)

  /** The logical (reader-visible) schema of `m`'s physical `schemaDdl`. */
  private def logicalSchema(m: Manifest,
                            phys: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val rev = m.columnMap.map(_.swap)
    org.apache.spark.sql.types.StructType(
      phys.fields.map(f => f.copy(name = rev.getOrElse(f.name, f.name))))
  }

  /** The LOGICAL column names a CHECK expression references (leaf
    * identifiers of its unresolved tree — conservative superset). */
  private def constraintRefs(exprSql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.last.toLowerCase
    }.toSet

  /** Per-row CHECK enforcement woven INTO a verb's write (the Delta
    * invariant shape): each constraint becomes an assert inside a
    * filter that passes every row — zero extra passes or jobs, the
    * write task fails on the FIRST violating row with the constraint's
    * name in the error. SQL CHECK semantics: a NULL result passes. */
  private def withConstraintChecks(m: Manifest, df: DataFrame,
                                   verb: String): DataFrame =
    if (m.constraints.isEmpty) df
    else m.constraints.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      d.filter(coalesce(assert_true(
        coalesce(expr(e), lit(true)),
        lit(s"$verb violates CHECK constraint '$n' ($e)")).isNull, lit(true)))
    }

  /** ANALYZE — retrofit per-file statistics for `cols` (LOGICAL names)
    * onto an EXISTING table: one column-pruned scan computes each
    * file's min/max/null counts, the commit re-manifests every entry
    * with the richer stats, and NO data file moves — data skipping on a
    * new predicate column becomes adoptable without the full rewrite an
    * `OPTIMIZE … SORT BY` would pay (stats without re-clustering still
    * skip whenever values correlate with the existing layout). Commits
    * as a FULL (anchor) delta: its adds ARE the state, metadata
    * proportional to the file count — the honest cost of touching every
    * entry's stats. */
  def analyzeColumns(cols: Seq[String],
                     where: Option[org.apache.spark.sql.Column] = None)
      : MergeStats = {
    require(cols.nonEmpty, "ANALYZE needs at least one column")
    val v = latestVersion
    val m = manifest(v)
    if (m.files.isEmpty) return MergeStats(v, 0, 0, 0, 0L)
    val physCols = cols.map(c => m.columnMap.getOrElse(c, c)).distinct
    // ANALYZE … WHERE: retrofit stats for ONLY the files that can hold
    // matching rows — O(selected), the partner of predicate-scoped
    // OPTIMIZE (re-cluster yesterday's partition, then re-stat exactly
    // it). Selection mirrors the scoped-compaction probe; unselected
    // files keep whatever coverage they had (absent stats only cost
    // pruning, never correctness)
    val selected = where match {
      case None => m.files
      case Some(cond) => hitKeptFiles(m, cond)._1
    }
    if (selected.isEmpty) return MergeStats(v, m.files.size, 0, 0, 0L)
    val data = readFiles(m, selected)
    physCols.foreach(c => require(data.columns.contains(c),
      s"ANALYZE of unknown column '$c'"))
    import org.apache.spark.sql.types.StringType
    val (strStats, numStats) = physCols.partition(c =>
      data.schema(c).dataType == StringType)
    val numAggs = numStats.flatMap(c => Seq(
      min(Lake.statLong(data, c)).as(s"mn_$c"),
      max(Lake.statLong(data, c)).as(s"mx_$c")))
    val strAggs = strStats.flatMap(c => Seq(
      min(col(c)).as(s"smn_$c"), max(col(c)).as(s"smx_$c")))
    val ordered = numStats ++ strStats
    val nullAggs = ordered.map(c => count(col(c)).as(s"nn_$c"))
    val aggs = (count(lit(1)).as("rows") +: (numAggs ++ strAggs ++ nullAggs))
    val strBase = 2 + 2 * numStats.size
    val nullBase = strBase + 2 * strStats.size
    val byName = data.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val cs = numStats.zipWithIndex.flatMap { case (c, i) =>
          val (mnI, mxI) = (2 + 2 * i, 3 + 2 * i)
          if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
          else Some(c -> ((r.getLong(mnI), r.getLong(mxI))))
        }.toMap
        val scs = strStats.zipWithIndex.flatMap { case (c, i) =>
          val (mnI, mxI) = (strBase + 2 * i, strBase + 2 * i + 1)
          if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
          else {
            val (mn, mx) = (r.getString(mnI), r.getString(mxI))
            if (!Lake.isAscii(mn) || !Lake.isAscii(mx)) None
            else Lake.strUpper(mx).map(up => c -> ((Lake.strLower(mn), up)))
          }
        }.toMap
        val rowsN = r.getLong(1)
        val ns = ordered.zipWithIndex.map { case (c, i) =>
          c -> (rowsN - r.getLong(nullBase + i))
        }.toMap
        new Path(r.getString(0)).getName -> ((cs, scs, ns))
      }.toMap
    val newFiles = m.files.map { f =>
      byName.get(new Path(f.path).getName) match {
        case Some((cs, scs, ns)) =>
          f.copy(cols = f.cols ++ cs, scols = f.scols ++ scs,
            nulls = f.nulls ++ ns)
        case None => f
      }
    }
    val cv = commitAndIndex(nextDelta(m, s"analyze-${physCols.mkString("-")}")
      .copy(statsCols = (m.statsCols ++ physCols).distinct, full = true,
        adds = newFiles, tombstoneAdds = m.tombstones))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** ALTER TABLE … ADD CONSTRAINT — a named CHECK expression (LOGICAL
    * column names) every future write enforces per row, in the write
    * itself. The EXISTING table must already satisfy it (the SQL ADD
    * CONSTRAINT contract) — one scan proves that, then the commit is
    * metadata-only. */
  def addConstraint(name: String, checkExpr: String): MergeStats = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid constraint name '$name'")
    val v = latestVersion
    val m = manifest(v)
    require(!m.constraints.contains(name),
      s"constraint '$name' already exists")
    val violating =
      read().filter(!coalesce(expr(checkExpr), lit(true))).limit(1).count()
    require(violating == 0L,
      s"cannot add CHECK constraint '$name': existing rows violate " +
        s"($checkExpr)")
    val cv = commitAndIndex(nextDelta(m, s"add-constraint-$name")
      .copy(constraints = m.constraints + (name -> checkExpr)))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  def dropConstraint(name: String): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    require(m.constraints.contains(name), s"no constraint '$name'")
    val cv = commitAndIndex(nextDelta(m, s"drop-constraint-$name")
      .copy(constraints = m.constraints - name))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** `files` of `m` in PHYSICAL names with the snapshot's tombstones
    * folded — the internal form every rewrite verb and compaction
    * consumes (their output files must store physical names). */
  private def physical(m: Manifest, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      // a fully-erased snapshot still KNOWS its shape when the commit
      // chain recorded it — readers get a typed empty relation
      m.schemaDdl.map(ddl => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl)))
        .getOrElse(spark.emptyDataFrame)
    else applyTombstones(m, readFiles(m, files))

  /** Time travel: the relation AS OF `version` — a plain multi-file
    * parquet scan over that version's resolved file set (COW keeps old
    * files live until a retention vacuum), projected to that version's
    * LOGICAL column names (renames/drops are per-version metadata, so
    * old snapshots keep their shape). */
  def snapshot(version: Int): DataFrame = {
    val m = manifest(version)
    toLogical(m, physical(m, m.files))
  }

  /** The distinct deleted keys of a snapshot's tombstone files, as a
    * one-column relation named after the merge key — None when clean.
    * Tombstone relations are key-column-only and small next to the table,
    * so joins against them broadcast under AQE. */
  private def tombstoneKeys(m: Manifest): Option[DataFrame] =
    if (m.tombstones.isEmpty) None
    else Some(spark.read.parquet(
        m.tombstones.map(f => new Path(rootPath, f.path).toString): _*)
      .select(col(m.keyCol)).distinct())

  /** Merge-on-read: anti-join the snapshot's key tombstones (if any) —
    * the read half of [[deleteDeferred]]. */
  private def applyTombstones(m: Manifest, base: DataFrame): DataFrame =
    tombstoneKeys(m).fold(base)(tk => base.join(tk, Seq(m.keyCol), "left_anti"))

  /** Latest snapshot. */
  def read(): DataFrame = snapshot(latestVersion)

  /** The version that was CURRENT at wall-clock `tsMillis` — the largest
    * version whose commit time is ≤ the probe. Commit time is the
    * IN-COMMIT timestamp stamped into the delta manifest at write
    * (robust on object stores and across copies, where file mtimes are
    * not), falling back to the manifest file's modification time for
    * manifests written before the stamp existed. Skewed writer clocks can
    * in principle disorder neighbors, so the scan takes the max
    * qualifying VERSION, not the last qualifying time. Fails loudly for
    * probes before the earliest retained commit — after a vacuum, history
    * beyond the horizon is gone, same contract as [[snapshot]]. */
  def versionAt(tsMillis: Long): Int = {
    // descending scan with early exit: commit times are nondecreasing in
    // version (max-by-VERSION contract), so the first qualifying version
    // from the top IS the answer — a probe against a 100k-commit history
    // parses a handful of recent manifests, never the whole log
    val statuses = fs.listStatus(manifestDir)
      .filter(_.getPath.getName.matches("v\\d{5}\\.json"))
      .map(s => s.getPath.getName.substring(1, 6).toInt -> s)
      .toMap
    val hit = statuses.keys.toSeq.sorted.reverseIterator.find { v =>
      val ts = readDelta(v).commitTs
      (if (ts > 0) ts else statuses(v).getModificationTime) <= tsMillis
    }
    require(hit.nonEmpty,
      s"no commit at or before timestamp $tsMillis under $root " +
        "(probe precedes the earliest retained version)")
    hit.get
  }

  /** Time travel by wall clock: the snapshot AS OF `tsMillis`. */
  def snapshotAt(tsMillis: Long): DataFrame = snapshot(versionAt(tsMillis))

  /** DESCRIBE HISTORY — one row per RETAINED commit (vacuumed versions are
    * gone by contract), newest first: version, parent, operation,
    * in-commit timestamp (-1 for pre-stamp manifests), what the commit
    * added/removed, and whether it self-anchors resolution. Reads only
    * the metadata-sized delta manifests, never resolves state — a 100k-
    * commit history is a 100k-small-file scan of the log, no data I/O. */
  def history(): DataFrame = {
    val rows = (0 to latestVersion).reverseIterator.flatMap { v =>
      if (!hasVersion(v)) None
      else {
        val d = readDelta(v)
        Some((d.version, d.parentVersion, d.operation, d.commitTs,
          d.adds.size, d.removes.size, d.tombstoneAdds.size, d.full))
      }
    }.toSeq
    spark.createDataFrame(rows).toDF("version", "parent_version",
      "operation", "commit_ts", "n_added_files", "n_removed_files",
      "n_tombstone_files", "is_anchor")
  }

  /** DESCRIBE DETAIL's file listing — the resolved manifest of `version`
    * as a DataFrame: one row per data/tombstone file with its row count
    * and key bounds. Metadata-only (no data I/O); the SQL surface is the
    * `graft_lake_files` table function. */
  def filesDf(version: Int): DataFrame = {
    val m = manifest(version)
    val rows =
      m.files.map(f => ("data", f.path, f.rows, f.minKey, f.maxKey)) ++
        m.tombstones.map(f =>
          ("tombstone", f.path, f.rows, f.minKey, f.maxKey))
    spark.createDataFrame(rows)
      .toDF("kind", "path", "n_rows", "min_key", "max_key")
  }

  def filesDf(): DataFrame = filesDf(latestVersion)

  /** DESCRIBE DETAIL — one row summarizing a snapshot: layout identity
    * (key/partition/stats columns), size (files, rows, tombstones), the
    * evolution state (renamed columns via the column map, dropped-name
    * reservations, CHECK constraints, recorded schema), and — when a
    * bloom index is declared — PER-COLUMN BLOOM COVERAGE
    * (`col:covered/files`), the operational signal for "this table's
    * point-lookup pruning has decayed, re-ANALYZE". Metadata + index-
    * sidecar I/O only, never data files. The SQL surface is the
    * `graft_lake_detail` table function. */
  def detailDf(version: Int): DataFrame = {
    val m = manifest(version)
    val renames = m.columnMap.toSeq.sorted
      .map { case (l, p) => s"$l<-$p" }.mkString(",")
    val cons = m.constraints.toSeq.sorted
      .map { case (n, e) => s"$n: $e" }.mkString("; ")
    val bloom = LakeBloom.coverage(spark, rootPath,
      m.files.map(f => new Path(f.path).getName).toSet)
      .toSeq.sorted
      .map { case (c, (cov, tot)) => s"$c:$cov/$tot" }.mkString(",")
    // the SNAPSHOT's protocol requirements (empty = implicit v1):
    // derived from the resolved state, not the one commit's stamp — a
    // deferred delete at v3 still binds a reader of v4 even though v4's
    // own delta stamped nothing — unioned with the commit's stamp so
    // hand-crafted future requirements surface too
    val features = (Lake.featuresOf(Lake.fullDelta(m)) ++
      readDelta(version).requiredFeatures).distinct.sorted
    // STRING-keyed bounds health: the 8-byte-prefix order embedding is
    // conservative by design, but when EVERY key in the table shares one
    // embedding value (URL-shaped keys under a long common prefix), the
    // key-range machinery degenerates — every probe intersects every
    // file and keyed verbs silently go O(table). Surface that here as an
    // actionable signal instead of a silent slowdown.
    val keyHealth =
      if (m.keyCol.isEmpty) "n/a (keyless)"
      else if (!features.contains("string-keys")) "ok"
      else if (m.files.nonEmpty && m.files.map(_.rows).sum > 1 &&
          m.files.map(_.minKey).min == m.files.map(_.maxKey).max)
        "DEGENERATE: every key shares one 8-byte prefix, so the " +
          "embedding bounds cannot discriminate files — key probes " +
          "intersect the whole table; hash-bucket or reverse-host the " +
          "key scheme, or declare a discriminating stats column"
      else "ok"
    spark.createDataFrame(Seq((
      m.version, m.operation, m.keyCol,
      m.files.size, m.files.map(_.rows).sum, m.tombstones.size,
      m.partitionCols.mkString(","), m.statsCols.mkString(","),
      renames, m.droppedCols.mkString(","), cons, bloom,
      features.mkString(","),
      m.schemaDdl.getOrElse(""), keyHealth)))
      .toDF("version", "operation", "key_col", "n_files", "n_rows",
        "n_tombstone_files", "partition_cols", "stats_cols",
        "renamed_columns", "dropped_columns", "check_constraints",
        "bloom_coverage", "required_features", "schema_ddl",
        "key_bounds_health")
  }

  def detailDf(): DataFrame = detailDf(latestVersion)

  /** Manifest-pruned key-range read of the latest snapshot: only files
    * whose [min,max] intersects [lo,hi] enter the scan AT PLANNING TIME
    * (the others never appear in the relation — no I/O, no tasks), then
    * the row-level predicate still applies inside the scan via ordinary
    * parquet pushdown. `lo`/`hi` are in the key's STAT UNITS — the raw
    * value for integral keys, days-since-epoch for DATE keys,
    * micros-since-epoch for TIMESTAMP keys ([[Lake.statLong]]).
    *
    * In sessions built with `GraftSessionExtensions`, the SAME pruning
    * fires automatically on plain `read().filter(key …)` queries via the
    * injected [[LakeManifestPrune]] optimizer rule — this explicit form
    * remains for extension-less sessions. */
  def readRange(lo: Long, hi: Long): DataFrame = {
    val m = manifest(latestVersion)
    requireKeyed(m, "readRange")
    val hit = m.files.filter(f => f.maxKey >= lo && f.minKey <= hi)
    if (hit.isEmpty) read().filter(lit(false))
    else {
      val df = applyTombstones(m, readFiles(m, hit))
      toLogical(m, df.filter(Lake.statLong(df, m.keyCol).between(lo, hi)))
    }
  }

  /** Change-data-feed between two committed snapshots: the net row-level
    * delta from `fromVersion` to `toVersion`, derived from the MANIFEST
    * diff. Only files added or removed across the interval are scanned —
    * files carried between the endpoint manifests BY REFERENCE (the
    * untouched bulk of a 100 TB table) never enter the plan, so the cost
    * is proportional to what changed, not to the table. This is exactly
    * how open table formats serve a change feed from their add/remove
    * file actions.
    *
    * Output is the data schema plus `_change_type` ∈ {insert, delete,
    * update_preimage, update_postimage} (the standard CDF vocabulary).
    * COW rewrites whole files, so a rewritten-but-identical row is
    * recognized (null-safe full-row compare per key) and emits nothing;
    * likewise a key updated and then reverted inside the interval
    * compares equal at the endpoints — the feed is the NET change.
    *
    * Endpoints carrying deferred-delete tombstones are SEEN THROUGH, not
    * refused: each endpoint's EFFECTIVE relation (files minus tombstoned
    * keys) is what gets diffed. Rows of changed files dead at their
    * endpoint drop out of the pre/post images, and keys newly tombstoned
    * across the interval emit `delete` events from the CARRIED files that
    * still hold their physical rows — only carried files whose key range
    * intersects a tombstone file's range are scanned, so the feed's
    * proportional-to-change cost keeps a (metadata-sized) tombstone term.
    * A key merged back through its tombstone re-appears as an `insert`
    * via the ordinary file diff.
    *
    * Scale shape: one shuffle, hash-partitioned on the merge key, over
    * only the rows living in changed files (plus tombstone-intersecting
    * carried files when deferred deletes moved); the manifest diff itself
    * is metadata-sized driver work. */
  def changes(fromVersion: Int, toVersion: Int): DataFrame = {
    val mFrom = manifest(fromVersion)
    val mTo = manifest(toVersion)
    require(mFrom.keyCol == mTo.keyCol,
      s"key column changed between snapshots: ${mFrom.keyCol} vs ${mTo.keyCol}")
    val keyCol = mTo.keyCol
    val fromPaths = mFrom.files.map(_.path).toSet
    val toPaths = mTo.files.map(_.path).toSet
    val removed = mFrom.files.filterNot(f => toPaths.contains(f.path))
    val added = mTo.files.filterNot(f => fromPaths.contains(f.path))
    if (keyCol.isEmpty) return changesKeyless(mTo, removed, added)
    // keys newly tombstoned across the interval kill rows in CARRIED
    // files — the file diff can't see those, so the carried files whose
    // key range intersects a to-endpoint tombstone file's range join the
    // scan (conservative metadata prune; keys revived mid-interval need
    // no carried handling — their re-insert rewrote every covering file,
    // so their rows live in ADDED files)
    val tombRanges = mTo.tombstones.map(f => (f.minKey, f.maxKey))
    // an interval that carried the tombstone files byte-identically (a
    // merge of unrelated keys, a restore) added no dead keys — skip the
    // carried scan on metadata alone
    val tombsUnchanged =
      mTo.tombstones.map(_.path) == mFrom.tombstones.map(_.path)
    val tombCarried =
      if (tombRanges.isEmpty || tombsUnchanged) Nil
      else mTo.files.filter(f => fromPaths.contains(f.path) &&
        tombRanges.exists { case (lo, hi) => f.maxKey >= lo && f.minKey <= hi })
    // merged-schema template over the CHANGED files (planning-time footer
    // reads only) — an interval that widened the schema feeds the widened
    // shape, with pre-evolution rows null in the new columns. An empty
    // diff types its empty feed from ONE file, not the whole table: the
    // feed's cost contract is proportional-to-change, footers included
    val templateFiles =
      if (added.nonEmpty || removed.nonEmpty || tombCarried.nonEmpty)
        added ++ removed ++ tombCarried
      else (mTo.files ++ mFrom.files).take(1)
    templateFiles.headOption match {
      case None => emptyChangeFeed(mTo) // table never held data
      case Some(_) =>
        val schema = readFiles(mTo, templateFiles).schema
        def load(fsq: Seq[FileEntry]): DataFrame =
          if (fsq.nonEmpty) readFiles(mTo, fsq, Some(schema))
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val tFrom = tombstoneKeys(mFrom)
        val tTo = tombstoneKeys(mTo)
        // an endpoint's effective rows: its files minus its dead keys
        def effective(df: DataFrame, tk: Option[DataFrame]): DataFrame =
          tk.fold(df)(t => df.join(t, Seq(keyCol), "left_anti"))
        val dataCols = schema.fieldNames.toSeq
        val pre = effective(load(removed), tFrom).select(col(keyCol).as("_k"),
          struct(dataCols.map(col): _*).as("_pre"))
        val post = effective(load(added), tTo).select(col(keyCol).as("_k"),
          struct(dataCols.map(col): _*).as("_post"))
        val j = pre.join(post, Seq("_k"), "full_outer")
          // rewritten-but-identical rows are not changes
          .filter(!(col("_pre") <=> col("_post")))
        val base = j.select(explode(
            when(col("_pre").isNull,
              array(struct(col("_post").as("row"), lit("insert").as("ct"))))
            .when(col("_post").isNull,
              array(struct(col("_pre").as("row"), lit("delete").as("ct"))))
            .otherwise(array(
              struct(col("_pre").as("row"), lit("update_preimage").as("ct")),
              struct(col("_post").as("row"), lit("update_postimage").as("ct"))))
          ).as("c"))
          .select(col("c.row.*"), col("c.ct").as("_change_type"))
        // the feed speaks the TO-endpoint's logical names (a rename
        // inside the interval renames the feed's columns with it)
        if (tombCarried.isEmpty || tTo.isEmpty) toLogical(mTo, base)
        else {
          val newlyDead = tFrom.fold(tTo.get)(f =>
            tTo.get.join(f, Seq(keyCol), "left_anti"))
          val carriedDeletes = load(tombCarried)
            .join(newlyDead, Seq(keyCol), "left_semi")
            .select((dataCols.map(col) :+
              lit("delete").as("_change_type")): _*)
          toLogical(mTo, base.unionByName(carriedDeletes))
        }
    }
  }

  /** Typed empty change feed for an interval over a table that never held
    * data. The feed contract is "data schema plus `_change_type`", so when
    * the commit chain recorded a schema the degenerate interval still
    * speaks it — a batch consumer selecting data columns must analyze,
    * same as on any non-empty interval. Only a legacy schema-less table
    * falls back to the minimal placeholder (keyed: key column only;
    * keyless: `_change_type` only). */
  private def emptyChangeFeed(mTo: Manifest): DataFrame = mTo.schemaDdl match {
    case Some(ddl) =>
      val phys = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      val withCt = org.apache.spark.sql.types.StructType(phys.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
      toLogical(mTo, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withCt))
    case None if mTo.keyCol.nonEmpty =>
      spark.range(0).select(col("id").as(logicalName(mTo, mTo.keyCol)),
        lit("").as("_change_type")).filter(lit(false))
    case None =>
      spark.range(0).select(lit("").as("_change_type")).filter(lit(false))
  }

  /** Keyless change feed: without a key there is no row identity to pair
    * pre/post images, so the interval's events are the CONTENT multiset
    * diff of the changed files — rows only in removed files are
    * `delete`s, rows only in added files are `insert`s, and a row
    * rewritten byte-identically (compaction) cancels out entirely
    * (`exceptAll` is multiset subtraction, so K removed copies vs J
    * added copies net to |K−J| events — the delta in occurrence count,
    * exactly what an append-log consumer needs to stay consistent).
    * Updates surface as delete+insert pairs, the honest keyless shape.
    * Cost: one shuffle over only the CHANGED files' rows — pure-append
    * intervals take the removed-empty fast path (no shuffle at all). */
  private def changesKeyless(mTo: Manifest, removed: Seq[FileEntry],
                             added: Seq[FileEntry]): DataFrame = {
    val templateFiles =
      if (added.nonEmpty || removed.nonEmpty) added ++ removed
      else mTo.files.take(1)
    if (templateFiles.isEmpty) return emptyChangeFeed(mTo)
    val schema = readFiles(mTo, templateFiles).schema
    def load(fsq: Seq[FileEntry]): DataFrame =
      if (fsq.nonEmpty) readFiles(mTo, fsq, Some(schema))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val pre = load(removed)
    val post = load(added)
    val feed =
      if (removed.isEmpty) post.withColumn("_change_type", lit("insert"))
      else post.exceptAll(pre).withColumn("_change_type", lit("insert"))
        .unionByName(
          pre.exceptAll(post).withColumn("_change_type", lit("delete")))
    toLogical(mTo, feed)
  }

  /** Test-only interleaving seam: runs after a verb has decided its target
    * version and written its data files, IMMEDIATELY before its manifest
    * commits — lets a spec plant a racing committer deterministically
    * against ANY verb (merge, delete, compact, restore, …). No-op in
    * production. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** The commit: write the delta manifest under a dot-temp name, then
    * rename to `v%05d.json` — refusing an existing destination, so
    * concurrent committers of the same version get one winner. */
  private[graft] def commitDelta(d: Delta): Unit = {
    onBeforeCommit()
    // protocol gate for WRITERS too: most verbs resolve the parent before
    // getting here, but some (restore) only read an OLDER snapshot —
    // committing on top of a parent this build cannot interpret would
    // silently revert the unknown feature's state. readDelta refuses.
    if (d.parentVersion >= 0 && hasVersion(d.parentVersion))
      readDelta(d.parentVersion)
    fs.mkdirs(manifestDir)
    // in-commit timestamp: stamped into the manifest itself (robust where
    // file mtimes aren't — object stores, copies); versionAt prefers it.
    // Protocol features stamp here too — derived from the delta's own
    // metadata at the single commit chokepoint, so no verb can forget one
    val stamped0 =
      if (d.commitTs > 0) d else d.copy(commitTs = System.currentTimeMillis())
    val stamped = stamped0.copy(requiredFeatures =
      (stamped0.requiredFeatures ++ Lake.featuresOf(stamped0)).distinct)
    val tmp = new Path(manifestDir, s".tmp-${UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write(toJson(stamped).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = manifestPath(d.version)
    if (!Lake.publishAtomic(fs, tmp, dest))
      throw new java.util.ConcurrentModificationException(
        s"lake commit lost the race for version ${d.version} at $dest")
  }

  /** The commit after `m`: version + 1 on parent `m.version`, carrying
    * m's table metadata (key, stats and partition columns, schema, column
    * map, constraints, dropped columns) with an empty change set — every
    * verb builds its delta here and states only what it changes. */
  private def nextDelta(m: Manifest, operation: String): Delta =
    fullDelta(m).copy(version = m.version + 1, parentVersion = m.version,
      operation = operation, full = false, adds = Nil, tombstoneAdds = Nil)

  /** Commit + index: cache the committed version's resolved state — the
    * same fold over its parent that cold readers run ([[applyDelta]]), so
    * the next planning pass replays zero deltas and can never see a state
    * a cold reader would not — and drop a parquet checkpoint every
    * `checkpointInterval`-th non-anchor commit to bound every future cold
    * resolution.
    *
    * `rebaseEnvelope` opts the commit into the DISJOINT-COMMIT FAST
    * PATH: on losing the version race, if every interleaved winner is a
    * plain non-anchor data commit whose touched files (adds + removed
    * entries) are KEY-RANGE-DISJOINT from this verb's probe envelope —
    * the [lo, hi] covering every key the verb read, probed, or wrote —
    * the already-computed delta is re-committed on top of the winners
    * (renumbered, state re-resolved) WITHOUT re-executing the verb. Two
    * writers merging different key slices of a big table then cost two
    * commits, not a commit plus a full replay. Any overlap, anchor
    * commit, tombstone movement, or vacuum race falls back to the loud
    * ConcurrentModificationException that [[withRetry]] replays — the
    * fast path can only decline, never change a result. The envelope
    * thunk is evaluated ONLY on an actual race. Returns the committed
    * version. */
  private[graft] def commitAndIndex(d: Delta,
                                    rebaseEnvelope: Option[() => (Long, Long)] = None)
      : Int = {
    def index(c: Delta): Int = {
      val (pf, pt) = if (c.full) (Nil, Nil) else resolveState(c.parentVersion)
      val (files, tombs) = applyDelta(pf, pt, c)
      stateCache.put(s"$root@${c.version}", (files, tombs))
      if (!c.full && c.version > 0 && c.version % checkpointInterval == 0)
        writeCheckpoint(c.version, files, tombs)
      c.version
    }
    try {
      commitDelta(d)
      index(d)
    } catch {
      case e: java.util.ConcurrentModificationException =>
        val rebased = rebaseEnvelope match {
          case Some(env) if !d.full && d.tombstoneAdds.isEmpty &&
              d.tombstoneRemoves.isEmpty =>
            val (lo, hi) = env()
            tryRebase(d, lo, hi).map(index)
          case _ => None
        }
        rebased.getOrElse(throw e)
    }
  }

  /** Attempt the disjoint rebase of `d` (probe envelope [lo, hi]) onto
    * the current latest, returning the committed delta; None = not
    * provably disjoint, caller replays. A second race inside the fast
    * path throws back to the replay loop. */
  private def tryRebase(d: Delta, lo: Long, hi: Long): Option[Delta] = {
    val newLatest = latestVersion
    val ourRemoves = d.removes.toSet
    var w = d.version
    while (w <= newLatest) {
      if (!hasVersion(w)) return None // vacuum raced: replay
      val dw = readDelta(w)
      // anchors (compact/restore/clone) re-cluster everything; tombstone
      // movement changes read-time semantics — both replay
      if (dw.full || dw.tombstoneAdds.nonEmpty || dw.tombstoneRemoves.nonEmpty)
        return None
      // a winner that EVOLVED the schema (or renamed/dropped a column,
      // changed the partition spec, or extended the stats set) must not
      // have its change reverted by our rebased commit (whose metadata
      // predates it — every delta carries these FULL, so a rebased stale
      // copy would silently undo the winner): any divergence replays
      if (dw.schemaDdl != d.schemaDdl) return None
      if (dw.columnMap != d.columnMap) return None
      if (dw.constraints != d.constraints) return None
      if (dw.partitionCols != d.partitionCols) return None
      if (dw.statsCols != d.statsCols) return None
      if (dw.droppedCols != d.droppedCols) return None
      if (dw.removes.exists(ourRemoves)) return None // same file touched
      // a KEYLESS pure append conflicts with nothing that passed the
      // gates above: it removes no files and addresses no keys, so the
      // key-envelope test (sentinel bounds always "overlap") is skipped —
      // concurrent appends to an append-log always splice. Keyless
      // REWRITING commits (delete-where, optimize) keep the conservative
      // decline: their sentinel envelopes overlap everything, so a race
      // replays the verb instead
      if (d.keyCol.nonEmpty || d.removes.nonEmpty) {
        // the winner's touched files: everything it added plus the
        // entries it removed (ranges from its parent's resolved state)
        val removedEntries =
          if (dw.removes.isEmpty) Nil
          else {
            val rm = dw.removes.toSet
            resolveState(dw.parentVersion)._1.filter(f => rm(f.path))
          }
        if ((dw.adds ++ removedEntries)
            .exists(f => f.maxKey >= lo && f.minKey <= hi)) return None
      }
      w += 1
    }
    // winners proven disjoint: splice our delta onto their state
    val d2 = d.copy(version = newLatest + 1, parentVersion = newLatest,
      commitTs = -1L)
    commitDelta(d2)
    Some(d2)
  }

  /** Legacy test seam: commit a fully-resolved state as a self-anchoring
    * delta. */
  private[graft] def commit(m: Manifest): Unit =
    commitAndIndex(fullDelta(m))

  /** Write `df` as fresh data files clustered on `keyCol` and return their
    * manifest entries. Files land in a scratch dir first, are renamed into
    * `data/` (preserving hive `<col>=<value>/` subdirectories when
    * `partitionCols` is set) under fresh UUID names, and their
    * (rows, min, max) stats come from ONE metadata-cheap scan of just the
    * new files — [[Lake.statLong]] normalizes DATE/TIMESTAMP stats to
    * days/micros since epoch. The partition column implicitly joins the
    * stats set, so [[LakeManifestPrune]] skips on it too. */
  private def writeDataFiles(df: DataFrame, keyCol: String, numFiles: Int,
                             statsCols: Seq[String] = Nil,
                             clusterBy: Option[org.apache.spark.sql.Column] = None,
                             partitionCols: Seq[String] = Nil,
                             estRows: Long = -1L)
      : Seq[FileEntry] = {
    val scratch = new Path(rootPath, s"_scratch-${UUID.randomUUID()}")
    // a write job that dies mid-flight (a CHECK constraint aborting on
    // its first violating row is an EXPECTED, recurring path) must not
    // leak its scratch directory: the finally sweeps whatever the
    // success path hasn't already renamed away (idempotent — the happy
    // path deleted it before reaching here)
    try writeDataFilesInto(scratch, df, keyCol, numFiles, statsCols,
      clusterBy, partitionCols, estRows)
    finally fs.delete(scratch, true)
  }

  /** Statistics for just-written parquet files read from their FOOTERS —
    * rows, key bounds (in the [[Lake.statLong]] normalized domain), the
    * numeric/string stats-column bounds, and per-column null counts —
    * instead of a second full scan of the bytes the write just produced.
    * At 100 TB the scan-based path reads back everything it writes, so a
    * commit costs write(W) + read(W); footers are O(files) metadata.
    *
    * Exactness contract: every bound this path emits must equal what the
    * scan-based aggregation would compute, because file pruning trusts
    * them. That holds per type because each [[Lake.statLong]] normalizer
    * is monotone non-decreasing, so min/max commute with it:
    *  - integral/date/timestamp(micros): the footer value IS the stat
    *  - strings: parquet orders binary stats by unsigned bytes, the same
    *    order Spark's UTF8String min/max uses; the 8-byte-prefix key
    *    embedding and the ASCII-gated truncated bounds are monotone
    *  - anything else (float/double NaN asymmetries, decimals, INT96) →
    *    return None and let the caller take the scan path unchanged.
    * Any missing/odd footer detail (stats dropped for oversized values,
    * unknown null counts) also returns None — the fallback is always the
    * old exact pass, never a guessed bound. Kill switch:
    * `spark.graft.lake.footerStats=false`. */
  private def footerStats(moved: Seq[(Path, String)],
                          schema: org.apache.spark.sql.types.StructType,
                          keyCol: String, statsCols: Seq[String],
                          partitionCols: Seq[String] = Nil)
      : Option[Map[String, (Long, Long, Long,
        Map[String, (Long, Long)], Map[String, (String, String)],
        Map[String, Long])]] = {
    import org.apache.spark.sql.types._
    if (!spark.conf.get("spark.graft.lake.footerStats", "true").toBoolean)
      return None
    // a key that is ALSO a partition column never appears in the data
    // file footers; the scan path owns that (unusual) layout
    if (keyCol.nonEmpty && partitionCols.contains(keyCol)) return None
    val keyIsString = keyCol.nonEmpty &&
      schema(keyCol).dataType == StringType
    // mirror the scan path's stats set: declared stats columns PLUS the
    // hive partition columns (their per-file bounds come from the
    // directory value) plus a string key's truncated bounds
    val allStats = (statsCols ++ partitionCols ++
      (if (keyIsString) Seq(keyCol) else Nil)).distinct
    val needed = ((if (keyCol.isEmpty) Nil else Seq(keyCol)) ++ allStats)
      .distinct
    val partSet = partitionCols.toSet
    def supported(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | StringType => true
      case _ => false
    }
    // partition VALUES travel as path strings: only types whose exact
    // value round-trips from the directory name qualify (timestamps
    // escape ':' in paths — scan path)
    def partSupported(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           StringType => true
      case _ => false
    }
    if (!needed.forall(c => schema.fieldNames.contains(c) &&
        (if (partSet(c)) partSupported(schema(c).dataType)
         else supported(schema(c).dataType)))) return None
    // a STRING partition value is only usable when Spark's partition
    // type inference would keep it a string — numeric / date-shaped
    // values read back under an inferred numeric/date type in the scan
    // path, so the footer path must not manifest string bounds for them
    def inferredString(v: String): Boolean = {
      def parses(f: => Any): Boolean =
        try { f; true } catch { case _: Exception => false }
      !(parses(new java.math.BigDecimal(v)) ||
        parses(java.lang.Double.parseDouble(v)) ||
        v.matches("""\d{4,}-\d{1,2}-\d{1,2}([ T].*)?"""))
    }
    // per-file hive values in partition-spec order; bail on anything
    // escaped, defaulted (null), or not committed under this exact spec
    def partVals(sub: String): Map[String, String] =
      if (partitionCols.isEmpty) Map.empty
      else {
        val levels = sub.split('/').toSeq
        if (levels.size != partitionCols.size) throw FooterBail
        levels.zip(partitionCols).map { case (lvl, c) =>
          val i = lvl.indexOf('=')
          if (i <= 0) throw FooterBail
          val (n, v) = (lvl.substring(0, i), lvl.substring(i + 1))
          if (n != c || v.isEmpty || v.contains('%') ||
              v == "__HIVE_DEFAULT_PARTITION__") throw FooterBail
          c -> v
        }.toMap
      }
    // (min, max, nulls) of a partition column on one file: the constant
    // directory value under the column's DECLARED type — which for every
    // accepted shape equals the type partition inference reconstructs,
    // so the manifested stat is bit-identical to the scan path's
    def partStat(c: String, v: String): (Any, Any, Long) =
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val l = try java.lang.Long.parseLong(v)
                  catch { case _: NumberFormatException => throw FooterBail }
          (l, l, 0L)
        case DateType =>
          val d = try java.time.LocalDate.parse(v).toEpochDay
                  catch { case _: Exception => throw FooterBail }
          (d, d, 0L)
        case StringType =>
          if (!inferredString(v)) throw FooterBail
          (v, v, 0L)
        case _ => throw FooterBail
      }
    // the unsigned-BE 8-byte-prefix string embedding, driver-side twin of
    // [[Lake.statLong]]'s StringType branch (monotone in unsigned byte
    // order, so footer min/max map through it exactly)
    def embed(s: String): Long = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
      v ^ Long.MinValue // unsigned → signed order-preserving shift
    }
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val out = moved.map { case (p, sub) =>
        val pv = partVals(sub)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        val (rows, perCol) =
          try {
            import scala.jdk.CollectionConverters._
            val blocks = rd.getFooter.getBlocks.asScala.toSeq
            val rows = blocks.map(_.getRowCount).sum
            // per needed column: (nonNullMin, nonNullMax as Any, numNulls)
            // — partition columns from the directory value, the rest
            // from the footer
            val perCol = needed.map { c =>
              if (partSet(c)) {
                val (mn, mx, nu) = partStat(c, pv(c))
                c -> ((mn, mx, nu))
              } else {
              var nulls = 0L
              var mn: Any = null
              var mx: Any = null
              blocks.foreach { b =>
                val cc = b.getColumns.asScala.find(ch =>
                  ch.getPath.size() == 1 && ch.getPath.toDotString == c)
                  .getOrElse(throw FooterBail)
                val st = cc.getStatistics
                if (st == null || st.isNumNullsSet == false ||
                    st.getNumNulls < 0) throw FooterBail
                nulls += st.getNumNulls
                if (st.getNumNulls < b.getRowCount) {
                  // group holds non-null values: bounds must be present
                  if (!st.hasNonNullValue) throw FooterBail
                  val (lo, hi): (Any, Any) = schema(c).dataType match {
                    case StringType =>
                      val bs = st.asInstanceOf[org.apache.parquet.column
                        .statistics.BinaryStatistics]
                      (bs.genericGetMin.toStringUsingUTF8,
                        bs.genericGetMax.toStringUsingUTF8)
                    case ByteType | ShortType | IntegerType | DateType =>
                      st match {
                        case is: org.apache.parquet.column.statistics
                          .IntStatistics =>
                          (is.getMin.toLong, is.getMax.toLong)
                        case _ => throw FooterBail
                      }
                    case LongType | TimestampType | TimestampNTZType =>
                      st match {
                        case ls: org.apache.parquet.column.statistics
                          .LongStatistics => (ls.getMin, ls.getMax)
                        case _ => throw FooterBail
                      }
                    case _ => throw FooterBail
                  }
                  def lt(a: Any, b: Any): Boolean = (a, b) match {
                    case (x: Long, y: Long) => x < y
                    case (x: String, y: String) =>
                      // unsigned byte order — the order parquet minned in
                      org.apache.spark.unsafe.types.UTF8String.fromString(x)
                        .compareTo(org.apache.spark.unsafe.types.UTF8String
                          .fromString(y)) < 0
                    case _ => throw FooterBail
                  }
                  if (mn == null || lt(lo, mn)) mn = lo
                  if (mx == null || lt(mx, hi)) mx = hi
                }
              }
              c -> ((mn, mx, nulls))
              }
            }.toMap
            (rows, perCol)
          } finally rd.close()
        if (rows == 0L) {
          (p.getName, (0L, 0L, 0L, Map.empty[String, (Long, Long)],
            Map.empty[String, (String, String)], Map.empty[String, Long]))
        } else {
          val (mnK, mxK) =
            if (keyCol.isEmpty) (0L, 0L)
            else perCol(keyCol) match {
              case (mn, mx, _) if mn != null && mx != null =>
                schema(keyCol).dataType match {
                  case StringType =>
                    (embed(mn.asInstanceOf[String]),
                      embed(mx.asInstanceOf[String]))
                  case _ => (mn.asInstanceOf[Long], mx.asInstanceOf[Long])
                }
              case _ => throw FooterBail // all-null key: scan path decides
            }
          val (strStats, numStats) = allStats.partition(c =>
            schema(c).dataType == StringType)
          val cols = numStats.flatMap { c =>
            perCol(c) match {
              case (mn, mx, _) if mn != null && mx != null =>
                Some(c -> ((mn.asInstanceOf[Long], mx.asInstanceOf[Long])))
              case _ => None // all-null column: no bounds, like the scan
            }
          }.toMap
          val scols = strStats.flatMap { c =>
            perCol(c) match {
              case (mn, mx, _) if mn != null && mx != null =>
                val (lo, hi) = (mn.asInstanceOf[String], mx.asInstanceOf[String])
                if (!Lake.isAscii(lo) || !Lake.isAscii(hi)) None
                else Lake.strUpper(hi).map(up => c -> ((Lake.strLower(lo), up)))
              case _ => None
            }
          }.toMap
          val nulls = perCol.map { case (c, (_, _, n)) => c -> n }
          (p.getName, (rows, mnK, mxK, cols, scols, nulls))
        }
      }.toMap
      Some(out)
    } catch {
      case FooterBail => None
      case scala.util.control.NonFatal(_) => None // any reader surprise:
        // fall back to the exact scan, never guess a bound
    }
  }

  private object FooterBail extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private def writeDataFilesInto(scratch: Path, df: DataFrame,
                                 keyCol: String, numFiles: Int,
                                 statsCols: Seq[String],
                                 clusterBy: Option[org.apache.spark.sql.Column],
                                 partitionCols: Seq[String],
                                 estRows: Long = -1L)
      : Seq[FileEntry] = {
    // SMALL-WRITE fast path: a rewrite whose proven row-count upper bound
    // is far below one target file gains nothing from a cluster-wide
    // range exchange — the sample pass + shuffle exist to split data that
    // no single task should hold. One task sorting by the cluster key and
    // emitting files sequentially produces the SAME disjoint per-file key
    // ranges (a sorted stream cut into consecutive pieces), so pruning
    // quality is identical; `maxRecordsPerFile` performs the cut. Gated
    // to unpartitioned, un-clusterBy'd writes where the exact-file-count
    // identity holds (numFiles == 1, or estRows ≥ 64·numFiles so
    // ceil-splitting cannot under-produce files); bound configurable via
    // `spark.graft.lake.smallWriteMaxRows` (rows, default 1M ≈ a quarter
    // of the target file size — scale-adaptive: production rewrites above
    // it keep the exchange).
    val smallMax = spark.conf.get("spark.graft.lake.smallWriteMaxRows",
      (Lake.DefaultTargetFileRows / 4).toString).toLong
    // a ONE-FILE unpartitioned write needs no exchange REGARDLESS of any
    // row-count proof: every row lands in the same task's single sorted
    // file either way, so the range exchange would only move the bytes
    // to get the identical layout
    val smallPath = partitionCols.isEmpty && clusterBy.isEmpty &&
      (numFiles == 1 ||
        (estRows >= 0L && estRows <= smallMax && estRows >= numFiles.toLong * 64))
    if (smallPath) {
      val sortCol =
        if (keyCol.nonEmpty) Some(keyCol) else statsCols.headOption
      // collapse strategy: with a PROVEN small row bound, coalesce(1)
      // computes the (bounded) rewrite in the writing task — no extra
      // stage, the cheapest shape for a commit-sized write. Without a
      // bound (the numFiles == 1 case) coalesce would serialize an
      // arbitrarily expensive upstream, so a round-robin repartition(1)
      // keeps the compute parallel and moves only the final rows — the
      // sortWithinPartitions below makes the file layout identical
      // either way.
      val one =
        if (estRows >= 0L && estRows <= smallMax) df.coalesce(1)
        else df.repartition(1)
      val sorted = sortCol.map(c => one.sortWithinPartitions(c)).getOrElse(one)
      var writer = sorted.write.mode("overwrite")
      if (numFiles > 1)
        writer = writer.option("maxRecordsPerFile",
          ((estRows + numFiles - 1) / numFiles).toString)
      writer.parquet(scratch.toString)
      return publishScratch(scratch, df, keyCol, statsCols, partitionCols)
    }
    val clustered = (clusterBy, partitionCols) match {
      case (Some(c), ps) if ps.nonEmpty =>
        // per-partition clustering: each task holds ONE partition tuple's
        // slice of the cluster order, so every hive dir gets internally
        // clustered files instead of one sliver per dir per task
        df.withColumn("__cluster", c)
          .repartitionByRange(math.max(1, numFiles),
            (ps.map(col) :+ col("__cluster")): _*)
          .sortWithinPartitions(ps.head, (ps.tail :+ "__cluster"): _*)
          .drop("__cluster")
      case (Some(c), _) => // alternative layout (e.g. Morton order) — stats
        // still computed on keyCol + statsCols below, layout-independent
        df.withColumn("__cluster", c)
          .repartitionByRange(math.max(1, numFiles), col("__cluster"))
          .sortWithinPartitions("__cluster")
          .drop("__cluster")
      case (None, ps) if ps.nonEmpty =>
        // range-cluster on (partitions..., key): every task holds one
        // partition tuple's key slice, so hive dirs get disjoint-range
        // files and key pruning stays tight WITHIN a partition. Keyless
        // (append-log) tables cluster on the leading stats column when
        // one exists — that's the column whose pruning the user declared
        // they care about — else on the partition tuple alone
        val tail =
          if (keyCol.nonEmpty) Seq(keyCol)
          else statsCols.headOption.toSeq
        df.repartitionByRange(math.max(1, numFiles), (ps ++ tail).map(col): _*)
          .sortWithinPartitions(ps.head, (ps.tail ++ tail): _*)
      case _ if keyCol.nonEmpty =>
        df.repartitionByRange(math.max(1, numFiles), col(keyCol))
          .sortWithinPartitions(keyCol)
      case _ => // keyless, unpartitioned: cluster by the leading stats
        // column for tight [min,max] pruning there; with no stats cols
        // declared, an even round-robin split is the only honest layout
        statsCols.headOption match {
          case Some(c) =>
            df.repartitionByRange(math.max(1, numFiles), col(c))
              .sortWithinPartitions(c)
          case None => df.repartition(math.max(1, numFiles))
        }
    }
    val writer = clustered.write.mode("overwrite")
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .parquet(scratch.toString)
    publishScratch(scratch, df, keyCol, statsCols, partitionCols)
  }

  /** Move the scratch write's part files under `data/`, derive their
    * manifest statistics (footer fast path, scan fallback), and return
    * the [[FileEntry]] list — shared by the range-exchange and
    * small-write paths of [[writeDataFilesInto]]. */
  private def publishScratch(scratch: Path, df: DataFrame, keyCol: String,
                             statsCols: Seq[String],
                             partitionCols: Seq[String])
      : Seq[FileEntry] = {
    fs.mkdirs(dataDir)
    // (part file, hive subpath or "") pairs — nested `<c>=<v>/` levels
    // accumulate into one relative subpath
    def partFiles(dir: Path, prefix: String): Seq[(Path, String)] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory && s.getPath.getName.contains("="))
          partFiles(s.getPath,
            if (prefix.isEmpty) s.getPath.getName
            else s"$prefix/${s.getPath.getName}")
        else if (s.getPath.getName.endsWith(".parquet")) Seq((s.getPath, prefix))
        else Nil
      }
    val moved = partFiles(scratch, "").map { case (src, sub) =>
      val destDir = if (sub.isEmpty) dataDir else new Path(dataDir, sub)
      fs.mkdirs(destDir)
      val dest = new Path(destDir, s"part-${UUID.randomUUID()}.parquet")
      require(fs.rename(src, dest), s"rename $src -> $dest failed")
      (dest, sub)
    }
    fs.delete(scratch, true)
    // degenerate STRING-key bounds warn AT WRITE (creation and full
    // compacts are where a bad key scheme should surface) — shared by
    // the footer and scan stats paths: a batch whose every key shares one
    // 8-byte prefix writes bounds that cannot discriminate any of its
    // files, so keyed probes against them go O(batch) per probe. The
    // durable table-wide signal is `graft_lake_detail(...)` / DESCRIBE's
    // key_bounds_health column.
    def warnDegenerateStringKey(entries: Seq[FileEntry]): Unit =
      if (keyCol.nonEmpty &&
          df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType &&
          entries.size > 1 &&
          entries.map(_.minKey).min == entries.map(_.maxKey).max)
        org.slf4j.LoggerFactory.getLogger(classOf[LakeTable]).warn(
          s"lake table $root: all ${entries.size} files written by this " +
            "commit share ONE 8-byte key prefix — the embedding bounds " +
            "cannot discriminate them (key probes will intersect every " +
            "file); hash-bucket or reverse-host the key scheme, or " +
            "declare a discriminating stats column")
    // FOOTER fast path (metadata-only, zero Spark jobs): layouts with no
    // bloom maintenance, when every needed column's stats are exactly
    // derivable — else the original scan pass below, unchanged. Hive
    // layouts qualify too: a partition column's per-file stats ARE its
    // directory value (min = max = value, zero nulls), so they come from
    // the subpath instead of the footer (bails inside footerStats on any
    // escaped/ambiguous value rather than guessing)
    val footerEntries =
      if (moved.isEmpty ||
          LakeBloom.readConfig(fs, rootPath).nonEmpty) None
      else footerStats(moved, df.schema, keyCol, statsCols, partitionCols)
        .map { stats =>
          moved.flatMap { case (p, sub) =>
            stats.get(p.getName) match {
              case Some((rows, mn, mx, cols, scols, nulls)) if rows > 0L =>
                val rel = if (sub.isEmpty) s"data/${p.getName}"
                          else s"data/$sub/${p.getName}"
                Some(FileEntry(rel, rows, mn, mx, cols, scols, nulls))
              case _ => fs.delete(p, false); None // zero-row part file
            }
          }
        }
    footerEntries.foreach(warnDegenerateStringKey)
    if (footerEntries.isDefined) footerEntries.get
    else if (moved.isEmpty) Seq.empty
    else {
      // key bounds + every extra stats column, ONE metadata-cheap pass;
      // STRING columns keep raw min/max here and truncate to the
      // lower/ceiling convention (Lake.strLower/strUpper) driver-side.
      // A STRING merge key auto-joins the stats set: its minKey/maxKey
      // hold only the 8-byte-prefix embedding (conservative, for the
      // internal range probes), so the EXACT pruning a key deserves
      // needs the truncated-string scols bounds alongside
      val keyIsString = keyCol.nonEmpty &&
        df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType
      val allStats = (statsCols ++ partitionCols ++
        (if (keyIsString) Seq(keyCol) else Nil)).distinct
      var reader = spark.read
      if (partitionCols.nonEmpty) reader = reader.option("basePath", dataDir.toString)
      val data = reader.parquet(moved.map(_._1.toString): _*)
      val (strStats, numStats) = allStats.partition(c =>
        data.schema(c).dataType == org.apache.spark.sql.types.StringType)
      val numAggs = numStats.flatMap(c => Seq(
        min(Lake.statLong(data, c)).as(s"mn_$c"),
        max(Lake.statLong(data, c)).as(s"mx_$c")))
      val strAggs = strStats.flatMap(c => Seq(
        min(col(c)).as(s"smn_$c"), max(col(c)).as(s"smx_$c")))
      // per-file NULL COUNTS for every stats column AND the key (min/max
      // ignore nulls, so bounds alone cannot answer IS NULL / IS NOT NULL
      // pruning — and the metadata-aggregate rule's whole-file implication
      // needs the key's null count for the IsNotNull conjuncts Catalyst
      // injects under every key comparison)
      val orderedStats =
        ((if (keyCol.isEmpty) Nil else Seq(keyCol)) ++ numStats ++ strStats)
          .distinct
      val nullAggs = orderedStats.map(c => count(col(c)).as(s"nn_$c"))
      // keyless (append-log) files carry sentinel key bounds (0, 0) —
      // nothing ever key-probes them (the keyed verbs refuse first)
      val keyStat =
        if (keyCol.isEmpty) lit(0L) else Lake.statLong(data, keyCol)
      val aggs = Seq(count(lit(1)).as("rows"),
        min(keyStat).as("mn"), max(keyStat).as("mx")) ++
        numAggs ++ strAggs ++ nullAggs
      val strBase = 4 + 2 * numStats.size
      val nullBase = strBase + 2 * strStats.size
      val stats = data
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val cols = numStats.zipWithIndex.flatMap { case (c, i) =>
            val (mnI, mxI) = (4 + 2 * i, 5 + 2 * i)
            if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
            else Some(c -> ((r.getLong(mnI), r.getLong(mxI))))
          }.toMap
          val scols = strStats.zipWithIndex.flatMap { case (c, i) =>
            val (mnI, mxI) = (strBase + 2 * i, strBase + 2 * i + 1)
            if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
            else {
              val (mn, mx) = (r.getString(mnI), r.getString(mxI))
              // ASCII-only (UTF8String byte order ≡ String order there);
              // an unincrementable ceiling drops the bound, never lies
              if (!Lake.isAscii(mn) || !Lake.isAscii(mx)) None
              else Lake.strUpper(mx).map(up => c -> ((Lake.strLower(mn), up)))
            }
          }.toMap
          val rowsN = r.getLong(1)
          val nulls = orderedStats.zipWithIndex.map { case (c, i) =>
            c -> (rowsN - r.getLong(nullBase + i))
          }.toMap
          (new Path(r.getString(0)).getName,
            (rowsN, r.getLong(2), r.getLong(3), cols, scols, nulls))
        }.toMap
      // a zero-row part file (e.g. a fully-erased rewrite) has no stats
      // row: drop it from disk rather than manifest an empty file
      val entries = moved.flatMap { case (p, sub) =>
        stats.get(p.getName) match {
          case Some((rows, mn, mx, cols, scols, nulls)) =>
            val rel = if (sub.isEmpty) s"data/${p.getName}"
                      else s"data/$sub/${p.getName}"
            Some(FileEntry(rel, rows, mn, mx, cols, scols, nulls))
          case None => fs.delete(p, false); None
        }
      }
      warnDegenerateStringKey(entries)
      // bloom maintenance: declared index columns get per-file blooms for
      // the NEW files in this same write path (one extra pass over just-
      // written bytes) — files predating the declaration stay uncovered
      // until an ANALYZE … COMPUTE BLOOM retrofits them
      LakeBloom.readConfig(fs, rootPath).foreach { cfg =>
        val present = cfg.cols.filter(data.columns.contains)
        if (present.nonEmpty && entries.nonEmpty)
          LakeBloom.build(spark, rootPath, data,
            entries.map(f => new Path(f.path).getName -> f.rows).toMap,
            present, cfg.bitsPerRow)
      }
      entries
    }
  }

  /** `ANALYZE TABLE … COMPUTE BLOOM FOR COLUMNS` — declare bloom index
    * columns and build per-file filters for every CURRENT file in one
    * distributed pass (see [[LakeBloom]]). The declaration persists in
    * the `_bloom/columns.json` marker, so every subsequent write
    * maintains coverage for its new files. Blooms are an auxiliary,
    * rebuildable index deliberately OUTSIDE the commit protocol (like
    * Delta's bloom index files): no commit is written, time travel is
    * unaffected, and a lost sidecar only costs pruning, never
    * correctness. Shallow clones do not inherit the source's sidecars —
    * re-ANALYZE the clone. */
  def analyzeBloom(cols: Seq[String],
                   bitsPerRow: Option[Int] = None): MergeStats = {
    require(cols.nonEmpty, "COMPUTE BLOOM needs at least one column")
    val v = latestVersion
    val m = manifest(v)
    val physCols = cols.map(c => m.columnMap.getOrElse(c, c)).distinct
    val existing = LakeBloom.readConfig(fs, rootPath)
    val bpr = bitsPerRow
      .orElse(existing.map(_.bitsPerRow))
      .getOrElse(spark.conf.get("spark.graft.lake.bloomBitsPerRow",
        LakeBloom.DefaultBitsPerRow.toString).toInt)
    require(bpr >= 2 && bpr <= 64, s"bloom bitsPerRow $bpr out of range")
    if (m.files.nonEmpty) {
      val data = readFiles(m, m.files)
      physCols.foreach { c =>
        require(data.columns.contains(c), s"BLOOM on unknown column '$c'")
        require(LakeBloom.hashable(data, c).isDefined,
          s"BLOOM on column '$c': unsupported type " +
            s"${data.schema(c).dataType.simpleString} (integral, string, " +
            "date, and timestamp columns only)")
      }
      LakeBloom.build(spark, rootPath, data,
        m.files.map(f => new Path(f.path).getName -> f.rows).toMap,
        physCols, bpr)
    }
    LakeBloom.writeConfig(fs, rootPath, LakeBloom.Config(
      (existing.map(_.cols).getOrElse(Nil) ++ physCols).distinct, bpr))
    MergeStats(v, m.files.size, 0, 0, 0L)
  }

  private[sources] def init(df: DataFrame, keyCol: String, numFiles: Int,
                            statsCols0: Seq[String] = Nil,
                            partitionBy: Seq[String] = Nil,
                            estRows: Long = -1L): Unit = {
    partitionBy.foreach(p => require(p != keyCol,
      "partition column cannot be the merge key"))
    // a repeated stats column would ride every manifest and writer call
    val statsCols = statsCols0.distinct
    val files = writeDataFiles(df, keyCol, numFiles, statsCols,
      partitionCols = partitionBy, estRows = estRows)
    // stored in READ order: data columns first, partition columns LAST
    // (hive recovery appends them) — every later read uses this schema
    val readSchema = org.apache.spark.sql.types.StructType(
      (df.schema.fields.filterNot(f =>
        partitionBy.exists(_.equalsIgnoreCase(f.name))) ++
        partitionBy.map(p => df.schema(p)))
        .map(f => f.copy(nullable = true)))
    commitAndIndex(Delta(0, -1, "create", keyCol, statsCols, partitionBy,
      full = true, adds = files, removes = Nil,
      tombstoneAdds = Nil, tombstoneRemoves = Nil,
      schemaDdl = Some(readSchema.toDDL)))
  }

  /** Refusal gate for key-addressed verbs on a keyless (append-log)
    * table — see [[Lake.createAppendLog]] for the supported surface.
    *
    * Also the STRING-KEY COORDINATE gate: string keys store their bounds
    * in the order-embedding coordinate ([[Lake.statLong]]), and every
    * commit this build writes on such a table stamps the `string-keys`
    * feature — so a string-keyed table whose LATEST delta lacks the
    * stamp was last written by a PRE-feature build, whose bounds are
    * cast-to-long key VALUES (possible only for castable-numeric string
    * keys). Probing those bounds with embeddings would MISS silently
    * (a merge would duplicate instead of update), so key-addressed verbs
    * refuse until a full compact re-stats every file in the embedding
    * coordinate. By induction the first refusal prevents mixed-coordinate
    * manifests from ever forming. One cached delta read; non-string keys
    * skip entirely. */
  private def requireKeyed(m: Manifest, verb: String): Unit = {
    require(m.keyCol.nonEmpty,
      s"$verb addresses rows by key, but this is a KEYLESS append-log " +
        "table (no row identity). Supported here: insert/append, " +
        "DELETE/UPDATE … WHERE (copy-on-write), OPTIMIZE/compaction, " +
        "time travel, restore, vacuum, the change feed. To upsert or " +
        "delete by key, create a keyed table (Lake.create / CREATE " +
        "TABLE … KEY <col>)")
    requireKeyCoord(m, verb)
  }

  /** The string-key half of [[requireKeyed]], callable on its own for
    * verbs that probe key bounds but are legal on keyless tables
    * (insert's PK-conflict scan). */
  private def requireKeyCoord(m: Manifest, verb: String): Unit = {
    if (m.keyCol.isEmpty) return
    val keyIsString = m.schemaDdl.exists { ddl =>
      val logical = m.columnMap.collectFirst {
        case (l, p) if p == m.keyCol => l }.getOrElse(m.keyCol)
      scala.util.Try(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .toOption.exists(_.fields.exists(f =>
          (f.name.equalsIgnoreCase(m.keyCol) ||
            f.name.equalsIgnoreCase(logical)) &&
            f.dataType == org.apache.spark.sql.types.StringType))
    }
    if (keyIsString &&
        !readDelta(m.version).requiredFeatures.contains("string-keys"))
      throw new IllegalStateException(
        s"$verb: this string-keyed table was last written by a build " +
          "that predates the string-keys feature — its key bounds are " +
          "cast-to-long key values, not the order embedding this build " +
          "probes with, and a silent probe miss would corrupt (duplicate " +
          "keys on merge). Run a full compact with THIS build first " +
          "(OPTIMIZE / LakeTable.compact) to migrate every file's " +
          "bounds, then retry")
  }

  /** The keyless half of [[hitKeptFiles]]: file names (basenames) of
    * `m`'s data files holding at least one row matching `condition`
    * (LOGICAL names) — ONE scan, column-pruned to the predicate's
    * columns, tagging rows with their source file. Parquet row-group
    * stats and (in extension-enabled sessions) manifest pruning bound
    * the scan; the rewrite that follows touches only the hit files. */
  private def hitFilesByScan(m: Manifest,
                             condition: org.apache.spark.sql.Column)
      : Set[String] = {
    if (m.files.isEmpty) return Set.empty
    toLogical(m, readFiles(m, m.files))
      .withColumn("_gf", input_file_name())
      .filter(condition)
      .select("_gf").distinct().collect()
      .map(r => new Path(r.getString(0)).getName).toSet
  }

  /** The (hit, kept) file partition for a predicate — the ONE selection
    * primitive behind every predicate-scoped verb (UPDATE/DELETE WHERE,
    * OPTIMIZE … WHERE, ANALYZE … WHERE): keyed tables probe the matching
    * rows' key+partition columns against the manifest ([[probeFiles]],
    * verify-fallback included); keyless tables scan by file identity
    * ([[hitFilesByScan]]). Hit = may hold a matching row; kept files
    * carry by reference. The thunk yields the `extra` aggregates over
    * the matching rows, computed on first call where the probe did not
    * already. On keyed tables the probe carries only the key and
    * partition columns, so `extra` may reference no others (a row count
    * is what callers ask for). */
  private def hitKeptFiles(m: Manifest,
                           condition: org.apache.spark.sql.Column,
                           extra: Seq[org.apache.spark.sql.Column] = Nil)
      : (Seq[FileEntry], Seq[FileEntry], () => org.apache.spark.sql.Row) = {
    val matching = toLogical(m, physical(m, m.files)).filter(condition)
    if (m.keyCol.nonEmpty) {
      val probeColsL = (m.keyCol +: m.partitionCols).map(logicalName(m, _))
      val keys = toPhysical(m, matching.select(probeColsL.map(col): _*))
      // with extras, the matching keys are checkpointed lazily: the
      // probe's pass materializes them, and the range join's separate
      // extra aggregate reads the cached blocks instead of re-scanning
      // the table for the predicate
      val (hitIdx, extras) = probeFiles(m,
        if (extra.isEmpty) keys else keys.localCheckpoint(false), extra)
      val (h, k) = m.files.zipWithIndex.partition { case (_, i) => hitIdx(i) }
      (h.map(_._1), k.map(_._1), extras)
    } else {
      val hitNames = hitFilesByScan(m, condition)
      lazy val extraRow = matching.agg(extra.head, extra.tail: _*).collect()(0)
      val (h, k) = m.files.partition(f => hitNames.contains(new Path(f.path).getName))
      (h, k, () => extraRow)
    }
  }

  /** File count past which the fused aggregate of [[probeFiles]] gives
    * way to its broadcast range join: each manifested file adds one
    * conditional-max aggregate column, and past a couple hundred the
    * single generated aggregate stops being the cheap path. */
  private val FusedProbeMaxFiles = 128

  /** The file-hit probe behind every keyed verb: the indexes of `m`'s
    * files that may hold a row of `probe` (whose FIRST column is the key
    * in the table's key domain), plus the `extra` aggregates over `probe`
    * (source-discipline checks, row counts, rebase-envelope bounds).
    *
    * A key hits a file iff it falls in the file's [min,max]. When the
    * table is hive-partitioned AND the probe carries partition columns
    * (merge updates do; bare delete keys don't), the hit test also
    * requires the file's partition value to match — key ranges overlap
    * ACROSS partitions by construction, so this is what keeps a
    * single-partition merge from rewriting every partition's files.
    *
    * Unpartitioned tables of at most [[FusedProbeMaxFiles]] files answer
    * in ONE aggregate pass: a per-file `max(when(key between [min,max],
    * 1))` flag beside `extra`. Otherwise the ranges are metadata-sized and
    * broadcast, the probe shuffles only its distinct key (+ partition)
    * columns, and `extra` runs as its own aggregate over `probe` on the
    * first call of the returned thunk — a caller that never reads it
    * never pays for it. */
  private def probeFiles(m: Manifest, probe: DataFrame,
                         extra: Seq[org.apache.spark.sql.Column] = Nil)
      : (Set[Int], () => org.apache.spark.sql.Row) = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    if (m.partitionCols.isEmpty && m.files.nonEmpty &&
        m.files.size <= FusedProbeMaxFiles) {
      val k = Lake.statLong(probe, probe.columns.head)
      val aggs = extra ++ m.files.zipWithIndex.map { case (f, i) =>
        max(when(k >= f.minKey && k <= f.maxKey, lit(1))).as(s"_hit_$i") }
      val row = probe.agg(aggs.head, aggs.tail: _*).collect()(0)
      return (m.files.indices.filter(i => !row.isNullAt(extra.size + i)).toSet,
        () => row)
    }
    lazy val extraRow = probe.agg(extra.head, extra.tail: _*).collect()(0)
    // numeric/date/timestamp partition columns constrain through the Long
    // stat units; STRING partition columns constrain through their exact
    // scols bounds; anything else (or a string value whose stats were
    // dropped — non-ASCII) must NOT constrain: an unprobeable column
    // falling out silently would make the hit set empty and turn a merge
    // into blind duplicate inserts
    val (strPcols, numPcols) = m.partitionCols
      .filter(probe.columns.contains)
      .partition(p => probe.schema(p).dataType == StringType)
    val schema = StructType(
      Seq(StructField("fidx", IntegerType), StructField("mn", LongType),
        StructField("mx", LongType)) ++
        numPcols.flatMap(p => Seq(StructField(s"pmn_$p", LongType),
          StructField(s"pmx_$p", LongType))) ++
        strPcols.flatMap(p => Seq(StructField(s"smn_$p", StringType),
          StructField(s"smx_$p", StringType))))
    val rangeRows = m.files.zipWithIndex.map { case (f, i) =>
      // Seq[Any] prevents Scala from numerically WIDENING the Int index to
      // Long, which would box a Long under the IntegerType schema field
      org.apache.spark.sql.Row.fromSeq(
        Seq[Any](i, f.minKey, f.maxKey) ++
          numPcols.flatMap { p =>
            val (pmn, pmx) = f.cols.getOrElse(p, (Long.MinValue, Long.MaxValue))
            Seq(pmn, pmx)
          } ++
          strPcols.flatMap { p => // null bounds = unconstrained for this file
            f.scols.get(p) match {
              case Some((mn, mx)) => Seq(mn, mx)
              case None => Seq(null, null)
            }
          })
    }
    import scala.jdk.CollectionConverters._
    val rangesDf = spark.createDataFrame(rangeRows.asJava, schema)
    val keys = probe.select(
      (Lake.statLong(probe, probe.columns.head).as("k") +:
        (numPcols.map(p => Lake.statLong(probe, p).as(s"pv_$p")) ++
          strPcols.map(p => col(p).as(s"sv_$p")))): _*).distinct()
    val numCond = numPcols.foldLeft(lit(true)) { (c, p) =>
      c && col(s"pv_$p") >= col(s"pmn_$p") && col(s"pv_$p") <= col(s"pmx_$p")
    }
    val partCond = strPcols.foldLeft(numCond) { (c, p) =>
      c && (col(s"smn_$p").isNull ||
        (col(s"sv_$p") >= col(s"smn_$p") && col(s"sv_$p") <= col(s"smx_$p")))
    }
    // ONE collect: every key-range-hit file, flagged when some probe row
    // also matches its partition values
    val (hitRows, keyOnly) = keys.join(broadcast(rangesDf),
        col("k") >= col("mn") && col("k") <= col("mx"))
      .groupBy("fidx").agg(max(when(partCond, lit(1))))
      .collect().partition(r => !r.isNullAt(1))
    val hit = hitRows.map(_.getInt(0)).toSet
    // A key whose update row carries a NEW partition value still has its
    // OLD row in a file of the old partition — partition-constrained
    // probing alone would miss that file and the merge would insert a
    // silent duplicate. Candidates are files key-range-hit but
    // partition-missed; verify by scanning ONLY their key column (a
    // metadata-cheap columnar read) and join in the files that actually
    // hold a probe key. No partition movement → no candidates contain
    // the keys → the common case stays tight.
    val candidates = keyOnly.map(_.getInt(0)).toSeq.sorted
    val moved =
      if (candidates.isEmpty) Nil
      else {
        val candDf = readFiles(m, candidates.map(m.files))
        val present = candDf
          .select(input_file_name().as("_f"),
            Lake.statLong(candDf, m.keyCol).as("k"))
          .join(keys.select("k").distinct(), Seq("k"), "left_semi")
          .select("_f").distinct().collect()
          .map(r => new Path(r.getString(0)).getName).toSet
        candidates.filter(i => present.contains(new Path(m.files(i).path).getName))
      }
    (hit ++ moved, () => extraRow)
  }

  /** Copy-on-write MERGE of `updates` on the table's key: rows matching
    * an existing key replace it, new keys insert —
    * [[graft.ops.Relational.upsert]] semantics at the storage level, run
    * as [[mergeInto]] with no DELETE clause, an unconditional UPDATE SET *
    * and INSERT *. Only files whose [min,max] key range intersects an
    * update key (and, for partitioned tables, whose partition value the
    * updates touch) are rewritten; everything else carries into the new
    * snapshot by reference. The previous snapshot remains readable (time
    * travel). Unlike [[mergeInto]], this SET * may EVOLVE the schema:
    * columns widen, new columns append (every other row reads null), and
    * a re-added dropped name maps to fresh storage; updates missing a
    * table column refuse (widen, never narrow). The source must carry one
    * row per key and no null keys — either refuses before anything
    * commits. */
  def merge(updates: DataFrame, newFileCountHint: Int = 0): MergeStats =
    mergeIntoTagged(updates, "merge", None, None, whenNotMatchedInsert = true,
      newFileCountHint, evolveSchema = true)

  /** Optimistic-retry loop shared by every verb — `t.withRetry(t.merge(df))`
    * runs the verb up to 3 times: an attempt that loses the version race
    * re-reads the NEW latest snapshot and REPLAYS the verb against it,
    * and the third lost race throws its ConcurrentModificationException —
    * the standard lakehouse retry. Safe because each
    * verb is expressed against table state (anti-join + union / rewrite
    * of the CURRENT latest), not a pinned version. Data files written by
    * a lost attempt are unreferenced orphans (never manifested) —
    * harmless until a cleanup sweep, exactly like aborted-commit files
    * in any COW format. */
  def withRetry[T](op: => T): T = {
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= 3) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Outstanding-tombstone integration for MERGE — the deletion-vector
    * semantics open table formats apply inside every verb: rewritten (hit)
    * files PHYSICALLY drop their tombstoned rows ([[physical]]), and the
    * keys the merge re-introduces (`reintroduced`, its source keys) leave
    * the tombstone set here, or the read-time anti-join would erase the
    * fresh row again. Safe because every file whose range covers such a
    * key is in the verb's hit set — the old physical rows are gone.
    * Returns (tombstoneAdds, tombstoneRemoves) for the commit. */
  private def foldTombstones(m: Manifest, reintroduced: DataFrame)
      : (Seq[FileEntry], Seq[String]) =
    tombstoneKeys(m) match {
      case None => (Nil, Nil)
      case Some(tk) =>
        val k = reintroduced.select(col(reintroduced.columns.head).as(m.keyCol))
          .distinct()
        // no collision → tombstone files carry byte-identically (and the
        // change feed's carried-scan shortcut keeps recognizing them)
        val collides =
          tk.join(k, Seq(m.keyCol), "left_semi").limit(1).count() > 0
        if (!collides) (Nil, Nil)
        else {
          val surviving = tk.join(k, Seq(m.keyCol), "left_anti")
          // empty survivors → writeDataFiles drops the empty part file
          // and the table comes out CLEAN
          (writeDataFiles(surviving, m.keyCol, 1), m.tombstones.map(_.path))
        }
    }

  /** [lo, hi] envelope of a file-entry set; (0, -1) = empty (disjoint
    * from everything — an empty-footprint commit rebases trivially). */
  private def rangeEnvelope(entries: Seq[FileEntry]): (Long, Long) =
    if (entries.isEmpty) (0L, -1L)
    else (entries.map(_.minKey).min, entries.map(_.maxKey).max)

  /** Target-SIZE file-count policy for every write path: at least
    * `legacy` files (a rewrite keeps its pre-rewrite clustering
    * granularity, so file counts never silently collapse), and at least
    * `ceil(estRows / spark.graft.lake.targetFileRows)` — a large append
    * or merge lands as proportionally many files instead of one
    * monolith whose single-file scan parallelism caps a 100 TB read.
    * `estRows` is an upper-bound estimate (manifest row counts of the
    * rewritten files + the batch size — replaced rows double-count,
    * which only ever errs toward MORE files). Conf 0 disables the
    * policy (pure legacy counts). */
  private def sizedFileCount(legacy: Int, estRows: Long): Int = {
    val target = spark.conf.get("spark.graft.lake.targetFileRows",
      Lake.DefaultTargetFileRows.toString).toLong
    val base = math.max(1, legacy)
    if (target <= 0L) base
    else math.max(base,
      math.min(Int.MaxValue.toLong, (estRows + target - 1) / target).toInt)
  }

  /** Conditional MERGE — the full MERGE INTO clause set, copy-on-write:
    * for each source row whose key matches a target row, the DELETE
    * clause fires first (`whenMatchedDeleteIf`), then the UPDATE clause
    * (`whenMatchedUpdateIf`, default always); a matched pair where no
    * clause fires keeps the target row unchanged. Unmatched source keys
    * insert iff `whenNotMatchedInsert` — and, when `whenNotMatchedInsertIf`
    * is set, iff that predicate also holds on the source row. Target rows
    * NO source key matches delete iff `whenNotMatchedBySourceDeleteIf`
    * fires (the WHEN NOT MATCHED BY SOURCE THEN DELETE clause). Clause
    * predicates see the rows as struct columns —
    * `col("source.o_totalprice") < col("target.o_totalprice")` — the
    * Delta MERGE surface without its parser.
    *
    * `updateSet` picks the UPDATE shape: empty = SET * (full-row replace
    * from the source; column sets must match exactly — schema evolution
    * belongs to the upsert [[merge]]); non-empty = per-column assignments
    * (`SET c = expr`) evaluated against both struct rows, unassigned
    * columns carrying from the TARGET — so the source may be NARROW: it
    * needs only the key, the partition columns, the assignment inputs,
    * and (when inserts can fire) every table column. Per-column merges
    * never evolve the schema.
    *
    * COW shape (shared with [[merge]], which runs this core): only files
    * whose key range (and partition, if partitioned) the source touches
    * rewrite; the insert anti-join runs against THOSE files only, which is
    * complete because a key covered by no file's range exists nowhere in
    * the table. A NOT
    * MATCHED BY SOURCE clause widens the rewrite set to the files holding
    * rows its condition actually FIRES on (found by one column-pruned
    * key+condition scan) — a selective condition keeps the rewrite
    * targeted; an unconditional clause honestly rewrites everything.
    * Multiple source rows per key are rejected (every format's MERGE
    * errors there: the result would be order-dependent). */
  def mergeInto(updates0: DataFrame,
                whenMatchedDeleteIf: Option[org.apache.spark.sql.Column] = None,
                whenMatchedUpdateIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedInsert: Boolean = true,
                newFileCountHint: Int = 0,
                updateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil,
                whenNotMatchedInsertIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceDeleteIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceUpdateIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceUpdateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : MergeStats =
    mergeIntoTagged(updates0, "merge-into", whenMatchedDeleteIf,
      whenMatchedUpdateIf, whenNotMatchedInsert, newFileCountHint,
      updateSet, whenNotMatchedInsertIf, whenNotMatchedBySourceDeleteIf,
      whenNotMatchedBySourceUpdateIf, whenNotMatchedBySourceUpdateSet)

  /** `sourceRowsHint` ≥ 0 attests the caller ALREADY proved the source
    * key discipline this verb otherwise verifies with one aggregate pass
    * (no null keys, one row per key) and knows the exact source row
    * count: internal callers whose source is literally the output of a
    * groupBy on the merge key (the MV refresh fold) skip the redundant
    * job. External surfaces always pass -1 and keep the checks.
    *
    * `evolveSchema` marks the upsert's SET * ([[merge]]): the one MERGE
    * that may evolve the schema — re-added dropped names map to fresh
    * storage (the extended column map rides the commit), the source may
    * carry columns the table lacks (they backfill null) but never lack
    * one of its columns. */
  private def mergeIntoTagged(updates0: DataFrame, operation: String,
                whenMatchedDeleteIf: Option[org.apache.spark.sql.Column],
                whenMatchedUpdateIf: Option[org.apache.spark.sql.Column],
                whenNotMatchedInsert: Boolean,
                newFileCountHint: Int = 0,
                updateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil,
                whenNotMatchedInsertIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceDeleteIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceUpdateIf: Option[org.apache.spark.sql.Column] = None,
                whenNotMatchedBySourceUpdateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil,
                sourceRowsHint: Long = -1L,
                evolveSchema: Boolean = false)
      : MergeStats = {
    val v = latestVersion
    val m0 = manifest(v)
    requireKeyed(m0, "MERGE")
    // a source column re-adding a DROPPED name maps to fresh physical
    // storage before any logical→physical projection — stale pre-drop
    // bytes in carried files never become the new column's values
    val m =
      if (evolveSchema) remapReAdded(m0, newLogicalCols(m0, updates0)) else m0
    val keyCol = m.keyCol
    // materialize the source ONCE: the verb evaluates it several times
    // (file-hit probe, key checks, clause join, insert anti-join), and an
    // expensive — or worse, non-deterministic — source must present the
    // SAME rows to every consumer (Delta materializes MERGE sources for
    // exactly this reason). LAZY: the first consumer (the file-hit probe)
    // is the materializing action — an eager checkpoint would pay a
    // separate job for the same pass
    val updates = updates0.localCheckpoint(false)
    // the merge core is LOGICAL-named end to end (clause
    // predicates reference the reader-visible names through the
    // target/source structs); only the file probe and the final write
    // cross into physical names
    val lk = logicalName(m, keyCol)
    m.partitionCols.foreach(p =>
      require(updates.columns.contains(logicalName(m, p)),
        s"merge updates into a table partitioned by " +
          s"'${logicalName(m, p)}' must carry that column"))
    val probeColsL = (keyCol +: m.partitionCols).map(logicalName(m, _))
    val probeP = toPhysical(m, updates.select(probeColsL.map(col): _*))
    // the file-hit probe carries the source-discipline checks / row count
    // (materializing the lazily-checkpointed source as it goes). With
    // sourceRowsHint the caller already proved the discipline, so only
    // the hit set is computed.
    val (keyHitIdx, checks) = probeFiles(m, probeP,
      if (sourceRowsHint >= 0L) Seq.empty
      else Seq(count(lit(1)), count(col(keyCol)), count_distinct(col(keyCol))))
    val updateRows =
      if (sourceRowsHint >= 0L) sourceRowsHint
      else {
        val r = checks()
        require(r.getLong(1) == r.getLong(0),
          s"merge source carries ${r.getLong(0) - r.getLong(1)} " +
            "null merge keys: a null key can never match a target row")
        require(r.getLong(2) == r.getLong(0),
          "merge requires one source row per key " +
            "(multiple matches make the result order-dependent)")
        r.getLong(0)
      }
    // a NOT MATCHED BY SOURCE clause can fire on ANY target row — but
    // only rows actually satisfying its condition (and matching no
    // source key) need their files rewritten. One column-pruned scan of
    // the key + condition columns finds the affected keys, and only
    // their files join the rewrite set: the scan reads every file once
    // (a few columns), the rewrite — the expensive half — stays
    // targeted. An unconditional clause degenerates to every non-empty
    // file whose keys aren't all in the source, which is the honest
    // whole-table cost the clause then has.
    val nmbsConds =
      whenNotMatchedBySourceDeleteIf.toSeq ++
        whenNotMatchedBySourceUpdateIf.toSeq
    val hitIdx =
      if (nmbsConds.isEmpty || m.files.isEmpty) keyHitIdx
      else {
        val any = nmbsConds.map(c => coalesce(c, lit(false))).reduce(_ || _)
        val live = toLogical(m, physical(m, m.files))
        val affected = live
          .select(col(lk), struct(live.columns.toSeq.map(col): _*).as("target"))
          .filter(any)
          .select(lk)
          .join(updates.select(col(lk)), Seq(lk), "left_anti")
        keyHitIdx ++ probeFiles(m, affected)._1
      }
    val (hit, kept) = m.files.zipWithIndex.partition { case (_, i) => hitIdx(i) }
    // outstanding deferred deletes fold physically into the rewrite AND
    // make tombstoned target rows read as ABSENT for clause matching — a
    // tombstoned source key is NOT MATCHED (its row is deleted) and
    // re-inserts fresh
    val hitDf =
      if (hit.isEmpty) None else Some(toLogical(m, physical(m, hit.map(_._1))))
    val perColumn = updateSet.nonEmpty
    // the table's LOGICAL shape: live files if any, else the recorded
    // schema (an emptied table still has one), else the source (legacy)
    val tableSchema: Option[org.apache.spark.sql.types.StructType] =
      hitDf.map(_.schema).orElse(m.schemaDdl.map(ddl =>
        logicalSchema(m, org.apache.spark.sql.types.StructType.fromDDL(ddl))))
    val tableCols: Seq[String] =
      tableSchema.map(_.fieldNames.toSeq).getOrElse(updates.columns.toSeq)
    // canonicalize per-column assignment targets against the table schema
    // (case-insensitive, like UPDATE); the merge key never re-assigns
    val canon = tableCols.map(c => c.toLowerCase -> c).toMap
    val assigns = updateSet.map { case (c, e) =>
      val name = canon.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
        s"MERGE UPDATE SET of unknown column '$c'"))
      require(!name.equalsIgnoreCase(lk),
        s"cannot assign the merge key '$lk' in MERGE UPDATE SET — " +
          "re-keying is a DELETE + INSERT")
      name -> e
    }
    require(assigns.map(_._1).distinct.size == assigns.size,
      "MERGE UPDATE SET assigns a column more than once")
    require(whenNotMatchedBySourceUpdateIf.isEmpty ||
      whenNotMatchedBySourceUpdateSet.nonEmpty,
      "WHEN NOT MATCHED BY SOURCE ... UPDATE needs per-column " +
        "assignments (there is no source row to SET * from)")
    val nmbsAssigns = whenNotMatchedBySourceUpdateSet.map { case (c, e) =>
      val name = canon.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
        s"NOT MATCHED BY SOURCE UPDATE SET of unknown column '$c'"))
      require(!name.equalsIgnoreCase(lk),
        s"cannot assign the merge key '$lk' in NOT MATCHED BY SOURCE " +
          "UPDATE SET")
      name -> e
    }
    require(nmbsAssigns.map(_._1).distinct.size == nmbsAssigns.size,
      "NOT MATCHED BY SOURCE UPDATE SET assigns a column more than once")
    if (!perColumn) hitDf.foreach { h =>
      if (evolveSchema) {
        // widen, never narrow: a source missing table columns would null
        // them on every updated row (allowMissingColumns fills both ways)
        val narrowed = h.columns.toSet -- updates.columns.toSet
        require(narrowed.isEmpty,
          s"merge updates are missing table columns ${narrowed.mkString(", ")}: " +
            "a merge may widen the schema, never narrow it")
      } else require(h.columns.sorted.sameElements(updates.columns.sorted),
        "conditional merge requires identical schemas " +
          "(schema evolution belongs to the unconditional merge)")
    } else if (whenNotMatchedInsert) {
      val missing = tableCols.toSet -- updates.columns.toSet
      require(missing.isEmpty,
        "per-column MERGE with an INSERT clause needs every table column " +
          s"in the source; missing ${missing.mkString(", ")}")
    }
    // per-column merges never evolve the schema; SET * may widen it —
    // an incompatible type change refuses here, before any write
    val commitSchemaDdl =
      if (perColumn) m.schemaDdl
      else m.schemaDdl.map(ddl => Lake.widenSchema(
        org.apache.spark.sql.types.StructType.fromDDL(ddl),
        toPhysical(m, updates).schema, m.partitionCols).toDDL)
    // INSERT-clause filter: the predicate sees the source row as a
    // `source` struct (the unmatched row has no target half)
    def insertFilter(df: DataFrame): DataFrame = whenNotMatchedInsertIf match {
      case None => df
      case Some(c) =>
        df.withColumn("source", struct(updates.columns.toSeq.map(col): _*))
          .filter(coalesce(c, lit(false))).drop("source")
    }
    // cast a source projection onto the table's recorded column types —
    // per-column merges never evolve the schema, so files must not
    // silently outgrow it
    def castSelect(df: DataFrame): DataFrame = tableSchema match {
      case Some(ts) => df.select(ts.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      case None => df
    }
    val rewritten = hitDf match {
      case None =>
        val base =
          if (whenNotMatchedInsert) insertFilter(updates) else updates.limit(0)
        withConstraintChecks(m,
          if (perColumn && whenNotMatchedInsert) castSelect(base) else base,
          "MERGE")
      case Some(h) =>
        val cols = h.columns.toSeq
        val tgt = h.select(col(lk).as("_k"),
          struct(cols.map(col): _*).as("target"))
        val src = updates.select(col(lk).as("_k"),
          struct(updates.columns.toSeq.map(col): _*).as("source"))
        val joined = tgt.join(src, Seq("_k"), "left_outer")
        val matched = col("source").isNotNull
        val del = coalesce(whenMatchedDeleteIf.getOrElse(lit(false)), lit(false))
        val upd = coalesce(whenMatchedUpdateIf.getOrElse(lit(true)), lit(false))
        val nmbsDel = coalesce(
          whenNotMatchedBySourceDeleteIf.getOrElse(lit(false)), lit(false))
        val nmbsUpd = coalesce(
          whenNotMatchedBySourceUpdateIf.getOrElse(lit(false)), lit(false))
        // clause order (both sides): DELETE, then UPDATE, else carry —
        // an unmatched target row deletes, updates per-column, or
        // carries, mirroring the matched half
        val keptRows = joined.filter(
          (matched && !del && !upd) || (!matched && !nmbsDel && !nmbsUpd))
          .select("target.*")
        val nmbsAssignMap = nmbsAssigns.toMap
        val nmbsUpdatedRows = withConstraintChecks(m,
          joined.filter(!matched && !nmbsDel && nmbsUpd).select(
            cols.map(c => nmbsAssignMap.get(c) match {
              case Some(e) => e.cast(h.schema(c).dataType).as(c)
              case None => col(s"target.$c").as(c)
            }): _*), "MERGE")
        val assignMap = assigns.toMap
        // only NEW row content (updates, inserts) re-checks constraints;
        // kept rows were valid when written (addConstraint proves the
        // whole table at add time)
        val updatedRows = withConstraintChecks(m,
          joined.filter(matched && !del && upd).select(
          (if (!perColumn) updates.columns.toSeq.map(c => col(s"source.$c").as(c))
           else cols.map(c => assignMap.get(c) match {
             // per-column: assigned columns evaluate against BOTH struct
             // rows (cast to the recorded type); the rest carry from the
             // target — the SQL MERGE UPDATE contract
             case Some(e) => e.cast(h.schema(c).dataType).as(c)
             case None => col(s"target.$c").as(c)
           })): _*), "MERGE")
        val inserts =
          if (whenNotMatchedInsert) {
            val unmatched = insertFilter(
              updates.join(h.select(col(lk)), Seq(lk), "left_anti"))
            withConstraintChecks(m,
              if (perColumn) castSelect(unmatched) else unmatched, "MERGE")
          } else h.limit(0).select(cols.map(col): _*)
        // SET * / INSERT * rows carry the SOURCE's columns: under schema
        // evolution the target-shaped rows backfill the new ones with null
        Seq(updatedRows, nmbsUpdatedRows, inserts).foldLeft(keptRows)(
          _.unionByName(_, allowMissingColumns = true))
    }
    val hint = if (newFileCountHint > 0) newFileCountHint
      else sizedFileCount(hit.size, hit.map(_._1.rows).sum + updateRows)
    val newFiles = writeDataFiles(toPhysical(m, rewritten), keyCol, hint,
      m.statsCols, partitionCols = m.partitionCols,
      estRows = hit.map(_._1.rows).sum + updateRows)
    // source keys leave the tombstone set: matched-updated and inserted
    // keys get fresh rows; delete-claused and no-insert keys have had
    // their physical rows dropped by the rewrite either way
    val (tAdds, tRemoves) = foldTombstones(m, updates.select(col(lk)))
    // rebase envelope: with an unconditional INSERT clause, source keys
    // all materialize in adds (update/insert) or fall inside hit-file
    // ranges (delete-claused / carried) — adds ∪ hit covers the
    // footprint. WITHOUT one (insert=false, or a conditional insert), an
    // unmatched source key outside every file range is in neither set,
    // yet a racing winner inserting that key must force a replay
    // (serialize-after would apply the WHEN MATCHED clauses to its row) —
    // so the envelope widens to the source keys, like delete's.
    val needSrcEnvelope = !whenNotMatchedInsert || whenNotMatchedInsertIf.isDefined
    // a NOT MATCHED BY SOURCE clause's scope is the WHOLE table (a racer
    // could insert a clause-satisfying row anywhere): never rebase past a
    // winner, always replay
    val envelope =
      if (nmbsConds.nonEmpty) None
      else Some(() => {
        val (lo, hi) = rangeEnvelope(newFiles ++ hit.map(_._1))
        if (!needSrcEnvelope) (lo, hi)
        else {
          val r = updates.agg(min(Lake.statLong(updates, lk)),
            max(Lake.statLong(updates, lk))).collect()(0)
          if (r.isNullAt(0)) (lo, hi)
          else (math.min(if (lo > hi) Long.MaxValue else lo, r.getLong(0)),
            math.max(if (lo > hi) Long.MinValue else hi, r.getLong(1)))
        }
      })
    val cv = commitAndIndex(nextDelta(m, operation).copy(adds = newFiles,
      removes = hit.map(_._1.path), tombstoneAdds = tAdds,
      tombstoneRemoves = tRemoves, schemaDdl = commitSchemaDdl),
      rebaseEnvelope = envelope)
    MergeStats(cv, kept.size, hit.size, newFiles.size, updateRows)
  }

  /** UPDATE … SET … WHERE — the targeted COW rewrite behind the SQL
    * `UPDATE graft_lake('root') SET c = e WHERE p` surface: one
    * tombstone-applied scan finds the KEYS whose rows satisfy the
    * predicate (manifest pruning applies when the predicate allows), only
    * the files holding them rewrite, and every assignment evaluates
    * against the OLD row (`withColumns` is simultaneous, the SQL UPDATE
    * contract). The merge key cannot be assigned — re-keying is a
    * delete + insert, i.e. MERGE. A predicate hitting nothing commits
    * nothing and returns the current version's stats. */
  def update(condition: org.apache.spark.sql.Column,
             sets: Seq[(String, org.apache.spark.sql.Column)]): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    val keyCol = m.keyCol
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    // UPDATE is LOGICAL-named end to end (conditions and assignment
    // targets are what the reader sees); only the final write crosses
    // into physical names
    val lk = logicalName(m, keyCol)
    // resolve each target to the schema's CANONICAL field name once —
    // validation, the type lookup, and withColumns must all agree on
    // case, or a case-mismatched SET passes validation and dies in an
    // opaque "field does not exist" instead of updating
    val canon = snapshot(v).columns.map(c => c.toLowerCase -> c).toMap
    val sets1 = sets.map { case (c, e) =>
      require(keyCol.isEmpty || !c.equalsIgnoreCase(lk),
        s"cannot assign the merge key '$lk' in UPDATE — re-keying is a " +
          "DELETE + INSERT (use MERGE)")
      // withColumns would silently ADD an unknown target — refuse instead
      // (adding columns is schema evolution, which belongs to MERGE)
      canon.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
        s"UPDATE of unknown column '$c' — adding columns is schema " +
          "evolution (use MERGE)")) -> e
    }
    // the matched-row count rides the file-hit probe's pass (keyed) or
    // follows the file-identity scan (keyless), only when a file is hit
    val (hit, kept, matched) = hitKeptFiles(m, condition, Seq(count(lit(1))))
    if (hit.isEmpty) return MergeStats(v, m.files.size, 0, 0, 0L)
    val updateRows = matched().getLong(0)
    val hitDf = toLogical(m, physical(m, hit))
    require(sets1.map(_._1).distinct.size == sets1.size,
      "UPDATE assigns a column more than once")
    // one simultaneous projection: every RHS evaluates against the OLD
    // row, CAST to the column's recorded type (the SQL UPDATE contract —
    // and physical files must never silently outgrow the stored schema)
    val rewritten = hitDf.withColumns(
      sets1.map { case (c, e) =>
        c -> when(condition, e.cast(hitDf.schema(c).dataType))
          .otherwise(col(c))
      }.toMap)
    val newFiles = writeDataFiles(toPhysical(m, withConstraintChecks(m, rewritten, "UPDATE")), keyCol,
      sizedFileCount(hit.size, hit.map(_.rows).sum), m.statsCols,
      partitionCols = m.partitionCols, estRows = hit.map(_.rows).sum)
    val cv = commitAndIndex(nextDelta(m, "update")
      .copy(adds = newFiles, removes = hit.map(_.path)))
    MergeStats(cv, kept.size, hit.size, newFiles.size, updateRows)
  }

  /** DELETE … WHERE over an arbitrary predicate — the SQL `DELETE FROM`
    * surface: one tombstone-applied scan derives the matching KEYS, then
    * the ordinary key-based COW [[delete]] rewrites only their files. */
  def deleteWhere(condition: org.apache.spark.sql.Column): MergeStats = {
    val m = manifest(latestVersion)
    if (m.keyCol.nonEmpty)
      // lazily checkpointed: the file-hit probe inside delete() is the
      // materializing scan, and the survivors anti-join then reads the
      // cached keys instead of re-scanning the table for the predicate
      delete(read().filter(condition)
        .select(logicalName(m, m.keyCol)).localCheckpoint(false),
        allowRebase = false)
    else deleteWhereKeyless(m, condition)
  }

  /** Keyless COW delete: one column-pruned scan finds the files holding
    * matching rows ([[hitFilesByScan]]); only those rewrite to their
    * survivors (rows where the predicate is false or null — the SQL
    * DELETE contract), everything else carries by reference. The same
    * O(selected) shape as the keyed path, with file identity standing in
    * for key ranges. */
  private def deleteWhereKeyless(m: Manifest,
                                 condition: org.apache.spark.sql.Column)
      : MergeStats = {
    val v = m.version
    val (hit, kept, _) = hitKeptFiles(m, condition)
    if (hit.isEmpty) return MergeStats(v, m.files.size, 0, 0, 0L)
    val survivors = toLogical(m, readFiles(m, hit))
      .filter(!coalesce(condition, lit(false)))
    val newFiles = writeDataFiles(toPhysical(m, survivors), "",
      sizedFileCount(1, hit.map(_.rows).sum), m.statsCols,
      partitionCols = m.partitionCols, estRows = hit.map(_.rows).sum)
    val cv = commitAndIndex(nextDelta(m, "delete-where")
      .copy(adds = newFiles, removes = hit.map(_.path)))
    MergeStats(cv, kept.size, hit.size, newFiles.size,
      hit.map(_.rows).sum)
  }

  /** Epoch-tagged commits are named `merge-epoch-[appId-]N`; every tag
    * writer and reader goes through this prefix. */
  private def epochPrefix(appId: String): String =
    if (appId.isEmpty) "merge-epoch-" else s"merge-epoch-$appId-"

  private def epochTag(epochId: Long, appId: String): String =
    epochPrefix(appId) + epochId

  /** True iff a streaming epoch already committed — the manifest chain IS
    * the transaction log (the txnAppId/txnVersion idempotent-sink pattern:
    * a replayed micro-batch finds its own commit and skips). `appId`
    * qualifies the tag per WRITER (a checkpoint identity, a query id):
    * epoch ids are monotone only within one writer's offset log, so the
    * backward walk early-exits ONLY on a tag of the SAME app — a second
    * writer, or a query restarted on a fresh checkpoint (epochs restart at
    * 0), interleaves tags that are simply skipped, never misread as "gone
    * past". A replay check still reads a handful of recent delta manifests
    * on a 100k-commit table once the app has committed anything; only an
    * app's FIRST-ever epoch pays a full metadata walk. (Epoch commits
    * vacuumed past the horizon read as absent; harmless, because the
    * engine's offset log never replays batches that old.) */
  def hasEpoch(epochId: Long, appId: String = ""): Boolean =
    epochsBackward(appId).collectFirst {
      case (_, Some(id)) if id <= epochId => id == epochId // same app, monotone
    }.getOrElse(false)

  /** The LATEST epoch id `appId` ever committed to this table, walking
    * the manifest chain backward to the first same-app tag — the
    * recovery read for consumers that use the chain AS their transaction
    * log (the MV refresh: "what base version does my state reflect?").
    * O(commits since that epoch); vacuumed manifests skip. */
  def latestEpoch(appId: String): Option[Long] =
    epochsBackward(appId).collectFirst { case (_, Some(id)) => id }

  /** Version `v`'s epoch tag on chain `appId`, if that commit carries
    * one (None for untagged commits and for other chains' tags — an
    * app-qualified tag under an empty-app probe parses as non-Long). */
  def epochTagAt(v: Int, appId: String): Option[Long] = {
    val prefix = epochPrefix(appId)
    val op = readDelta(v).operation
    if (op.startsWith(prefix)) op.stripPrefix(prefix).toLongOption else None
  }

  /** The retained versions from the tip down, each with its epoch tag on
    * chain `appId` ([[epochTagAt]]) — lazily, so every backward walk
    * reads only the deltas down to where its answer is known. */
  private def epochsBackward(appId: String): Iterator[(Int, Option[Long])] =
    (latestVersion to 0 by -1).iterator.filter(hasVersion)
      .map(v => (v, epochTagAt(v, appId)))

  /** The OLDEST retained epoch-tagged commit whose epoch id EXCEEDS
    * `minEpoch` — the upper bracket for pinned reads through an
    * epoch-keyed consumer: every version of this table strictly BELOW it
    * reflects epochs ≤ minEpoch on the chain, including untagged commits
    * in between (dim-phase folds, OPTIMIZE rewrites). None = no retained
    * fold past `minEpoch`. The walk is TIP-ANCHORED (descending,
    * stopping at the first tag ≤ minEpoch — tags are monotone along the
    * chain), so a pin near the tip pays O(commits since the bracket),
    * not O(chain), matching [[latestEpoch]]'s cost discipline. */
  def firstVersionAboveEpoch(appId: String, minEpoch: Long): Option[Int] =
    epochsBackward(appId).collect { case (v, Some(id)) => (v, id) }
      .takeWhile(_._2 > minEpoch).map(_._1).minOption

  /** [[mergeInto]] tagged with a streaming epoch — the conditional-clause
    * twin of [[mergeEpoch]], same at-most-once contract per (appId,
    * epoch). The MV refresh commits its fold through this: epoch id =
    * the base version the fold advances to, so the state table's own
    * manifest chain records exactly which base snapshot it reflects. */
  def mergeIntoEpoch(updates: DataFrame, epochId: Long, appId: String,
                     whenMatchedDeleteIf: Option[org.apache.spark.sql.Column] = None,
                     whenMatchedUpdateIf: Option[org.apache.spark.sql.Column] = None,
                     whenNotMatchedInsert: Boolean = true,
                     sourceRowsHint: Long = -1L): Option[MergeStats] =
    if (hasEpoch(epochId, appId)) None
    else Some(mergeIntoTagged(updates, epochTag(epochId, appId),
      whenMatchedDeleteIf, whenMatchedUpdateIf, whenNotMatchedInsert,
      sourceRowsHint = sourceRowsHint))

  /** [[merge]] tagged with a streaming epoch — committed at most once per
    * (appId, epoch id); a replay after a restart-between-write-and-offset-
    * commit becomes a no-op instead of a duplicate snapshot. Pass the
    * checkpoint/query identity as `appId` whenever more than one writer
    * (or more than one checkpoint generation) can touch the table. Same
    * source contract as [[merge]]: one row per key, no null keys. */
  def mergeEpoch(updates: DataFrame, epochId: Long,
                 appId: String = ""): Option[MergeStats] =
    if (hasEpoch(epochId, appId)) None
    else Some(mergeIntoTagged(updates, epochTag(epochId, appId), None, None,
      whenNotMatchedInsert = true, evolveSchema = true))

  /** COMPLETE-mode streaming fold, epoch-tagged: the batch IS the whole
    * intended table content (a complete-mode aggregation re-emits every
    * group each trigger), so the fold upserts every batch row AND deletes
    * every table key the batch no longer carries — [[mergeInto]] with an
    * unconditional NOT MATCHED BY SOURCE DELETE clause. Same at-most-once
    * contract per (appId, epoch) as [[mergeEpoch]]. Each epoch rewrites
    * the whole table — inherent to complete-mode semantics, and fine at
    * scale because a complete-mode RESULT table is aggregate-sized (the
    * 100 TB fact stream folds into it, it never is it). */
  def replaceAllEpoch(rows: DataFrame, epochId: Long,
                      appId: String = ""): Option[MergeStats] =
    if (hasEpoch(epochId, appId)) None
    else Some(mergeIntoTagged(rows, epochTag(epochId, appId),
      whenMatchedDeleteIf = None, whenMatchedUpdateIf = None,
      whenNotMatchedInsert = true,
      whenNotMatchedBySourceDeleteIf = Some(lit(true))))

  /** INSERT — the APPEND fast path: new rows land as new files and every
    * existing file carries by reference (an adds-only commit, no rewrite
    * at all), after a primary-key conflict check: the table is keyed, so
    * a source key that already exists refuses loudly (upserts belong to
    * MERGE). The conflict probe scans only the key column of files whose
    * range covers a source key. Appended files' key ranges may overlap
    * existing ones — key-range pruning degrades gracefully until the
    * next compact re-clusters (the standard append-vs-cluster trade
    * every table format makes). Tombstoned keys CONFLICT like live ones
    * — an append rewrites nothing, so it cannot safely revive them;
    * MERGE can. */
  def insertAll(rows0: DataFrame): MergeStats =
    insertTagged(rows0, "insert")

  private def insertTagged(rows0: DataFrame, operation: String): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    // insert is legal keyless, but a KEYED insert probes key bounds for
    // PK conflicts — pre-feature string-key coordinates would miss
    requireKeyCoord(m, "INSERT")
    val keyCol = m.keyCol
    // callers speak LOGICAL names; files and stats speak physical.
    // CHECK constraints enforce per row inside the write itself
    val rowsP = toPhysical(m, withConstraintChecks(m, rows0, "INSERT"))
    m.partitionCols.foreach(p => require(rowsP.columns.contains(p),
      s"insert into a table partitioned by " +
        s"'${logicalName(m, p)}' must carry that column"))
    val rows = rowsP.localCheckpoint(false) // lazy: the count/key probe
    // below is the materializing action
    val tableSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructType
        .fromDDL(m.schemaDdl.getOrElse(rows.schema.toDDL))
        .fields.map(_.copy(nullable = true)))
    val narrowed = tableSchema.fieldNames.toSet -- rows.columns.toSet
    require(narrowed.isEmpty,
      s"insert rows are missing table columns ${narrowed.mkString(", ")}")
    // appended files must not outgrow the recorded schema — widening (and
    // new columns) belong to MERGE, which evolves the schema in-commit.
    // Compared as FIELD SETS: widenSchema orders partition fields by the
    // CURRENT spec, which legitimately differs from the stored order
    // after a partition-spec evolution — order is not evolution
    def fieldSet(s: org.apache.spark.sql.types.StructType): Seq[String] =
      s.fields.map(f => s"${f.name.toLowerCase} ${f.dataType.sql}")
        .sorted.toSeq
    val widened = Lake.widenSchema(tableSchema, rows.schema, m.partitionCols)
    require(fieldSet(widened) == fieldSet(tableSchema),
      "insert rows would widen or extend the table schema (" +
        s"table: ${tableSchema.toDDL}; with rows: ${widened.toDDL}): " +
        "schema evolution belongs to MERGE")
    // key sanity + PK conflict probe — keyed tables only. A KEYLESS
    // append-log admits repeats by definition: the insert is a blind
    // adds-only commit, zero reads of existing data
    val nRows =
      if (keyCol.isEmpty) rows.count()
      else {
        // the PK-conflict file probe carries the key-discipline checks
        val (hitIdx, checks) = probeFiles(m, rows.select(keyCol),
          Seq(count(lit(1)), count(col(keyCol)), count_distinct(col(keyCol))))
        val cnts = checks()
        require(cnts.getLong(1) == cnts.getLong(0),
          "insert rows carry null keys")
        require(cnts.getLong(2) == cnts.getLong(0),
          "insert rows carry duplicate keys within the batch")
        // PK conflict check against files whose range covers a source key —
        // a key-column-only scan. TOMBSTONED keys conflict too: an append
        // rewrites nothing, so clearing their tombstone would resurrect the
        // old physical row next to the new one — reviving belongs to MERGE,
        // whose rewrite folds the dead row out
        if (hitIdx.nonEmpty) {
          val candidates = readFiles(m, hitIdx.toSeq.sorted.map(m.files))
            .select(col(keyCol))
          val conflicts = candidates.join(rows.select(col(keyCol)), Seq(keyCol),
            "left_semi").limit(1).count()
          require(conflicts == 0L,
            "INSERT would duplicate existing keys (live or tombstoned): the " +
              "table is keyed — use MERGE to upsert or revive")
        }
        cnts.getLong(0)
      }
    // append sizing is pure target-size policy: there is no rewrite whose
    // granularity could anchor a count (the old hitIdx-derived count was
    // a placeholder — a huge no-hit append must NOT land as one file)
    val newFiles = writeDataFiles(rows, keyCol,
      sizedFileCount(1, nRows), m.statsCols,
      partitionCols = m.partitionCols, estRows = nRows)
    // inserted keys were proven ABSENT (live and tombstoned): the
    // tombstone set carries unchanged
    val cv = commitAndIndex(nextDelta(m, operation).copy(adds = newFiles),
      rebaseEnvelope = Some(() => rangeEnvelope(newFiles)))
    MergeStats(cv, m.files.size, 0, newFiles.size, nRows)
  }

  /** [[insertAll]] tagged with a streaming epoch — the append-path twin
    * of [[mergeEpoch]], same at-most-once contract per (appId, epoch).
    * The log-ingestion sink shape: every batch is new keys, so the
    * commit is adds-only with zero rewrite risk even for randomly
    * distributed keys (a keyed MERGE would rewrite every range-covering
    * file). */
  def insertEpoch(rows: DataFrame, epochId: Long,
                  appId: String = ""): Option[MergeStats] =
    if (hasEpoch(epochId, appId)) None
    else Some(insertTagged(rows, epochTag(epochId, appId)))

  /** Copy-on-write DELETE by key: files whose range intersects a delete
    * key rewrite to their surviving rows (a fully-erased file simply
    * leaves no successor); unhit files carry over by reference. The
    * pre-delete snapshot stays readable until [[vacuum]] — the committed
    * half of an erasure cascade. `keys` is a one-column relation of the
    * table's merge key. */
  def delete(keys: DataFrame, allowRebase: Boolean = true): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    requireKeyed(m, "DELETE by keys")
    val keyCol = m.keyCol
    // the rebase envelope's key bounds ride the file-hit probe: free in
    // its fused pass, else one aggregate run only when a race needs them
    val kc = keys.columns.head
    val (hitIdx, keyBounds) = probeFiles(m, keys,
      Seq(min(Lake.statLong(keys, kc)), max(Lake.statLong(keys, kc))))
    val (hit, kept) = m.files.zipWithIndex.partition { case (_, i) => hitIdx(i) }
    val newFiles =
      if (hit.isEmpty) Seq.empty[FileEntry]
      else {
        // outstanding deferred deletes fold physically into the rewrite;
        // the tombstone entries stand for the files that carry over
        val hitDf = applyTombstones(m, readFiles(m, hit.map(_._1)))
        val survivors = hitDf.join(
          keys.select(col(keys.columns.head).as(keyCol)), Seq(keyCol), "left_anti")
        writeDataFiles(survivors, keyCol,
          sizedFileCount(hit.size, hit.map(_._1.rows).sum), m.statsCols,
          partitionCols = m.partitionCols,
          estRows = hit.map(_._1.rows).sum)
      }
    // a pure delete re-introduces nothing: tombstones carry unchanged.
    // The rebase envelope must cover the PROBE KEYS, not just touched
    // files: a delete key that hit nothing is a no-op NOW, but a winner
    // concurrently inserting that key must force a replay (serialize-
    // after semantics would delete it). Predicate-derived deletes
    // (deleteWhere) replay unconditionally — their predicate would
    // re-evaluate over winner rows.
    val envelope =
      if (!allowRebase) None
      else Some(() => {
        val r = keyBounds()
        if (r.isNullAt(0)) (0L, -1L)
        else {
          val (hLo, hHi) = rangeEnvelope(hit.map(_._1))
          (math.min(r.getLong(0), if (hLo > hHi) Long.MaxValue else hLo),
            math.max(r.getLong(1), if (hLo > hHi) Long.MinValue else hHi))
        }
      })
    val cv = commitAndIndex(nextDelta(m, "delete")
      .copy(adds = newFiles, removes = hit.map(_._1.path)),
      rebaseEnvelope = envelope)
    MergeStats(cv, kept.size, hit.size, newFiles.size, 0L)
  }

  /** MERGE-ON-READ delete — the write-cheap twin of [[delete]]: the keys
    * land as a tombstone file (key column only, min/max manifested like
    * any data file) and EVERY data file carries over by reference; readers
    * apply the tombstones as an anti-join until [[compact]] folds them
    * into a clean COW snapshot. At 100 TB this is the difference between
    * writing |keys| rows and rewriting every file an erasure request
    * touches — the GDPR fast path every table format grew deletion
    * vectors for. Every verb works THROUGH outstanding tombstones
    * (deletion-vector semantics): [[merge]]/[[mergeInto]]/[[delete]]
    * physically fold dead rows out of the files they rewrite and clear
    * the tombstone entries of keys they re-introduce; [[changes]] diffs
    * the effective (tombstone-applied) endpoint relations. [[compact]]
    * folds everything into a clean snapshot. Repeated deferred deletes
    * stack — each commit appends its tombstone file. */
  def deleteDeferred(keys: DataFrame): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    requireKeyed(m, "DELETE DEFERRED (key tombstones)")
    val tomb = writeDataFiles(
      keys.select(col(keys.columns.head).as(m.keyCol)).distinct(),
      m.keyCol, 1)
    val cv = commitAndIndex(
      nextDelta(m, "delete-deferred").copy(tombstoneAdds = tomb))
    MergeStats(cv, m.files.size, 0, tomb.size, 0L)
  }

  /** MERGE-ON-READ delete by ARBITRARY PREDICATE — [[deleteWhere]]'s
    * write-cheap twin, completing the matrix (by-key/by-predicate ×
    * COW/deferred). One COLUMN-PRUNED scan (manifest pruning + parquet
    * pushdown apply — a partition- or stats-scoped predicate reads a
    * file subset, and only the predicate's columns plus the key) turns
    * the condition into its matched KEY SET, which lands as an ordinary
    * tombstone file; every data file carries by reference. This is
    * deliberately NOT a file+row-index bitmap DV: on a KEYED table the
    * unique key already identifies every row, so key tombstones buy the
    * identical deferred semantics while staying position-independent —
    * they survive compaction/clustering rewrites of carried files
    * unchanged, revive through MERGE, and feed the CDC diff, none of
    * which a row-position bitmap does without rewrite-time remapping.
    * The price vs. a bitmap is this verb's one pruned scan (a bitmap
    * needs the same scan to find the rows) and |keys| vs. |bitmap|
    * bytes — at 100 TB both are dwarfed by the rewrite this verb
    * avoids. No matching rows → no-op, nothing commits. Conflicts
    * REPLAY (never rebase): the predicate must re-evaluate over a
    * racing winner's rows, same rule as [[deleteWhere]]. */
  def deleteDeferredWhere(condition: org.apache.spark.sql.Column): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    requireKeyed(m, "DELETE DEFERRED (key tombstones)")
    val keyLogical = logicalName(m, m.keyCol)
    // ONE scan: write the tombstone directly (keys are unique in the
    // effective snapshot — no distinct shuffle) and no-op when it came
    // out empty (writeDataFiles drops zero-row outputs)
    val keys = read().filter(condition).select(col(keyLogical).as(m.keyCol))
    val tomb = writeDataFiles(keys, m.keyCol, 1)
    if (tomb.isEmpty) return MergeStats(v, m.files.size, 0, 0, 0L)
    val cv = commitAndIndex(
      nextDelta(m, "delete-deferred-where").copy(tombstoneAdds = tomb))
    MergeStats(cv, m.files.size, 0, tomb.size, 0L)
  }

  /** ALTER TABLE … RENAME COLUMN — METADATA-ONLY, via column mapping:
    * files keep their physical column name forever; the commit only
    * updates the logical→physical map, so a 100 TB table renames in one
    * manifest write (the Delta `columnMapping` idea). Reads of THIS
    * version onward see the new name; older snapshots keep theirs (the
    * map is per-version, like the schema). The merge key, partition
    * columns, and stats columns all rename freely — the manifest tracks
    * them by physical name. Requires a recorded schema (every
    * non-legacy table has one). */
  def renameColumn(oldName: String, newName: String): MergeStats = {
    require(newName.nonEmpty && newName.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"invalid column name '$newName'")
    val v = latestVersion
    val m = manifest(v)
    val physSchema = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.getOrElse(throw new IllegalArgumentException(
        "rename needs a recorded table schema (legacy table: compact once)")))
    val rev = m.columnMap.map(_.swap)
    val logicalNames = physSchema.fields.map(f =>
      rev.getOrElse(f.name, f.name)).toSeq
    val canonical = logicalNames.find(_.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$oldName' to rename"))
    require(!logicalNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    m.constraints.foreach { case (n, e) =>
      require(!constraintRefs(e).contains(canonical.toLowerCase),
        s"cannot rename '$canonical': CHECK constraint '$n' references " +
          "it — drop the constraint first")
    }
    val physical = m.columnMap.getOrElse(canonical, canonical)
    val newMap = (m.columnMap - canonical) ++
      (if (newName == physical) Map.empty[String, String]
       else Map(newName -> physical))
    val cv = commitAndIndex(nextDelta(m, s"rename-$canonical-to-$newName")
      .copy(columnMap = newMap))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** ALTER TABLE … DROP COLUMN — METADATA-ONLY: the field leaves the
    * recorded read schema (and the stats set), so no snapshot from this
    * version on ever materializes it; the bytes stay in existing files
    * until their next COW rewrite, and older snapshots still read the
    * column (per-version schema). The merge key and partition columns
    * cannot drop. The dropped PHYSICAL name joins `droppedCols` — a
    * permanent reservation that routes any later same-named column to a
    * fresh physical name, so the stale bytes in carried files can never
    * resurrect as the new column's values. */
  def dropColumn(name: String): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    val physSchema = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.getOrElse(throw new IllegalArgumentException(
        "drop needs a recorded table schema (legacy table: compact once)")))
    val rev = m.columnMap.map(_.swap)
    val canonical = physSchema.fields.map(f => rev.getOrElse(f.name, f.name))
      .find(_.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"no column '$name' to drop"))
    m.constraints.foreach { case (n, e) =>
      require(!constraintRefs(e).contains(canonical.toLowerCase),
        s"cannot drop '$canonical': CHECK constraint '$n' references " +
          "it — drop the constraint first")
    }
    val physical = m.columnMap.getOrElse(canonical, canonical)
    require(physical != m.keyCol, "cannot drop the merge key")
    require(!m.partitionCols.contains(physical),
      "cannot drop a partition column — repartitioning is a rewrite")
    val newFields = physSchema.fields.filterNot(_.name == physical)
    require(newFields.nonEmpty, "cannot drop the last column")
    val cv = commitAndIndex(nextDelta(m, s"drop-$canonical").copy(
      statsCols = m.statsCols.filterNot(_ == physical),
      schemaDdl = Some(org.apache.spark.sql.types.StructType(newFields).toDDL),
      columnMap = m.columnMap - canonical,
      // the dropped PHYSICAL name is reserved from here on: carried
      // files still hold its bytes, and a re-added column of the same
      // name must never read them (it gets a fresh physical name via
      // remapReAdded instead — the silent-resurrection guard)
      droppedCols = (m.droppedCols :+ physical).distinct))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** ALTER TABLE … ADD COLUMN — METADATA-ONLY commit: the new NULLABLE
    * column joins the recorded read schema (inserted before the
    * partition columns, which stay last — the stored read order); every
    * existing file reads it back as null (the explicit-read-schema
    * missing-column contract [[readFiles]] already relies on for
    * merge-widened tables), and no data moves. The table-stakes
    * Delta/Iceberg DDL twin of the implicit widening a MERGE performs.
    * A name matching a DROPPED column's reserved physical storage maps
    * to a FRESH physical name through the column map ([[remapReAdded]]'s
    * guarantee, applied at DDL level) — stale pre-drop bytes never
    * resurrect. Stats for the column are absent until an `ANALYZE …
    * FOR COLUMNS` retrofits them (nothing to measure: it is all null). */
  def addColumn(name: String, typeDdl: String): MergeStats = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid column name '$name'")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val v = latestVersion
    val m = manifest(v)
    val physSchema = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.getOrElse(throw new IllegalArgumentException(
        "ADD COLUMN needs a recorded table schema (legacy table: compact once)")))
    val rev = m.columnMap.map(_.swap)
    val logicalNames = physSchema.fields.map(f => rev.getOrElse(f.name, f.name))
    require(!logicalNames.exists(_.equalsIgnoreCase(name)),
      s"column '$name' already exists")
    val m2 = remapReAdded(m, Seq(name))
    val physical = m2.columnMap.getOrElse(name, name)
    // a name that is a renamed column's physical ghost (reserved but not
    // dropped) still refuses — same rule as toPhysical
    val ghosts = m2.columnMap.values.toSet -- m2.columnMap.keySet
    require(m2.columnMap.contains(name) || !ghosts.contains(physical),
      s"column name '$name' is reserved by a renamed column's physical " +
        "storage — pick another name")
    val newField = org.apache.spark.sql.types
      .StructField(physical, dt, nullable = true)
    val (pFields, dFields) = physSchema.fields.partition(f =>
      m.partitionCols.exists(_.equalsIgnoreCase(f.name)))
    val newSchema = org.apache.spark.sql.types.StructType(
      (dFields :+ newField) ++ pFields)
    val cv = commitAndIndex(nextDelta(m, s"add-column-$name")
      .copy(schemaDdl = Some(newSchema.toDDL), columnMap = m2.columnMap))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** ALTER TABLE … ALTER COLUMN <c> TYPE <t> — METADATA-ONLY widening:
    * the recorded read schema promotes the column through exactly the
    * conversions the parquet readers perform in place
    * ([[Lake.widenType]]: integral up-casts, FLOAT→DOUBLE), so every
    * existing file reads back promoted and no data moves — the explicit
    * DDL twin of the widening a MERGE performs implicitly. Anything
    * outside the widening lattice (narrowing, string↔numeric) refuses:
    * those need a rewrite, which is a different promise. Older
    * snapshots keep their type (per-version schema). Stats are
    * unaffected — manifest stat units are stat-long normalized
    * ([[Lake.statLong]]), invariant under these promotions. */
  def alterColumnType(name: String, typeDdl: String): MergeStats = {
    val newType = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val v = latestVersion
    val m = manifest(v)
    val physSchema = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.getOrElse(throw new IllegalArgumentException(
        "ALTER COLUMN needs a recorded table schema (legacy table: compact once)")))
    val rev = m.columnMap.map(_.swap)
    val field = physSchema.fields
      .find(f => rev.getOrElse(f.name, f.name).equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' to alter"))
    if (field.dataType == newType) return MergeStats(v, m.files.size, 0, 0, 0L)
    require(Lake.widenType(field.dataType, newType).contains(newType),
      s"ALTER COLUMN can only WIDEN (${field.dataType.simpleString} -> " +
        s"${newType.simpleString} is not an in-place parquet promotion): " +
        "narrowing or type changes need a rewrite")
    require(field.name != m.keyCol,
      "cannot alter the merge key's type (manifest key ranges are typed)")
    val newFields = physSchema.fields.map(f =>
      if (f.name == field.name) f.copy(dataType = newType) else f)
    val cv = commitAndIndex(nextDelta(m, s"alter-column-$name").copy(
      schemaDdl = Some(org.apache.spark.sql.types.StructType(newFields).toDDL)))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** ALTER TABLE … PARTITIONED BY (…) — METADATA-ONLY partition-spec
    * evolution (the Iceberg idea): the commit records a new layout spec
    * and touches ZERO data files. Writes from then on land in the new
    * hive directories; files written under older specs keep their
    * layout and stay readable ([[readFiles]] groups scans by each
    * file's directory-era signature) and PRUNABLE — the outgoing
    * spec's columns fold into `statsCols`, so their per-file bounds
    * keep skipping old files after they stop being directories, and
    * the new spec's columns prune old files wherever bounds for them
    * were already collected. At 100 TB this is the only honest answer
    * to "the query pattern changed": re-partitioning by rewrite is an
    * O(table) job nobody runs; evolution is O(1) now and O(new data)
    * forever. `cols` may be empty — evolve BACK to an unpartitioned
    * layout. Logical names; the key cannot be a partition column
    * (same rule as [[Lake.create]]). */
  def alterPartitioning(cols: Seq[String]): MergeStats = {
    val v = latestVersion
    val m = manifest(v)
    val physSchema = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.getOrElse(throw new IllegalArgumentException(
        "ALTER PARTITIONED BY needs a recorded table schema " +
          "(legacy table: compact once)")))
    val phys = cols.map { c =>
      val p = m.columnMap.getOrElse(c, c)
      require(physSchema.fields.exists(_.name.equalsIgnoreCase(p)),
        s"partition column '$c' does not exist")
      require(m.keyCol.isEmpty || !p.equalsIgnoreCase(m.keyCol),
        "partition column cannot be the merge key")
      p
    }
    require(phys.map(_.toLowerCase).distinct.size == phys.size,
      "duplicate partition columns")
    if (phys == m.partitionCols) return MergeStats(v, m.files.size, 0, 0, 0L)
    // outgoing partition columns keep their per-file stats coverage by
    // joining the declared stats set — old files prune on them forever
    val cv = commitAndIndex(nextDelta(m, "alter-partitioning").copy(
      statsCols = (m.statsCols ++ m.partitionCols).distinct,
      partitionCols = phys))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** RESTORE — roll the table back to `version`'s content AS A NEW
    * COMMIT (never by deleting history): the new manifest re-references
    * the old version's files and tombstones byte-for-byte, so the bad
    * commits stay inspectable, the restore itself is time-travelable,
    * and no data moves — the undo verb every table format grew. Commits
    * as a FULL (self-anchoring) delta: O(file-count) metadata for a rare
    * admin verb, and every later resolution gets a fresh anchor. Fails
    * cleanly if `version` was vacuumed away. */
  def restore(version: Int): MergeStats = {
    val v = latestVersion
    require(hasVersion(version), s"cannot restore: v$version was vacuumed")
    val m = manifest(version)
    // the restored version's full state and metadata, on the latest parent
    val cv = commitAndIndex(fullDelta(m).copy(version = v + 1,
      parentVersion = v, operation = s"restore-v$version"))
    MergeStats(cv, m.files.size, 0, 0, 0L)
  }

  /** Shallow CLONE — a new, independently-committing table whose v0
    * manifest references THIS table's current data files by ABSOLUTE
    * path (zero bytes copied; reads resolve absolute entries as-is).
    * Writes to the clone are ordinary COW commits landing under the
    * clone's own root — the source never sees them. A `vacuum` on either
    * table never deletes files outside its OWN root, so a clone vacuum
    * cannot destroy source data (and vice versa: a SOURCE vacuum can
    * still orphan files the clone references — deep-copy when lifetimes
    * must decouple). Hive-partitioned tables refuse (partition-value
    * recovery needs a single basePath). `version` < 0 clones the current
    * snapshot; any retained version clones AS OF that snapshot — the
    * dev-copy-of-last-week verb, still zero bytes. */
  def cloneShallow(newRoot: String, version: Int = -1): LakeTable = {
    val v = if (version < 0) latestVersion else version
    require(hasVersion(v), s"cannot clone: v$v was vacuumed")
    val m = manifest(v)
    require(m.partitionCols.isEmpty,
      "shallow clone of a hive-partitioned table is not supported: " +
        "partition-value recovery needs a single basePath — deep-copy instead")
    def absolute(fs0: Seq[FileEntry]): Seq[FileEntry] = fs0.map(f =>
      f.copy(path = new Path(rootPath, f.path).toString))
    val t = new LakeTable(spark, newRoot)
    t.commitAndIndex(fullDelta(m).copy(version = 0, parentVersion = -1,
      operation = s"clone-of-$rootPath@v$v", adds = absolute(m.files),
      tombstoneAdds = absolute(m.tombstones)))
    t
  }

  /** OPTIMIZE — table-maintenance compaction: rewrite the LATEST snapshot
    * into `numFiles` files as a new snapshot. Pure COW — the fragmented
    * version stays readable until [[vacuum]]. Commits as a FULL delta
    * (its adds ARE the state), so a compact doubles as a resolution
    * anchor — the small-files answer for a table fed by many incremental
    * merges also caps its delta chains. Folds outstanding tombstones.
    *
    * `layout` is the cluster order ([[layoutCluster]]); None range-
    * clusters on the key (operation `compact`):
    *  - `("sort", cols)` — a linear sort order on arbitrary columns,
    *    operation `optimize-sortby-<physical cols>`
    *  - `("zorder", cols)`, n ≥ 2 — the Morton z-value (Delta's
    *    `OPTIMIZE … ZORDER BY` shape): bit j of dimension i lands at
    *    position j·n + i; operation `optimize-zorder` for two columns,
    *    `optimize-zorder-<n>d` beyond
    *  - `("hilbert", cols)`, n ≥ 2 — the Hilbert index: consecutive
    *    indices are always unit-adjacent in coordinate space, so key-
    *    range-contiguous files cover tighter boxes and n-D box
    *    predicates prune at least as well as under Morton (the spec pins
    *    that on a 3-D fixture); operation `optimize-hilbert-<n>d`.
    * The layout columns join the stats set — numeric/date/timestamp
    * columns get [min,max] in stat units, STRING columns truncated lower
    * / incremented-ceiling upper bounds — so [[LakeManifestPrune]] skips
    * files for predicates (n-D boxes, for the curves) on them. The trade
    * is deliberate: the merge KEY's per-file ranges widen (keys interleave
    * across clusters), so key-range pruning and merge file-hit ratios
    * degrade, and each added curve dimension prunes more weakly —
    * re-cluster a table that is read by those columns far more often than
    * it is merged by key. Hive-partitioned tables cluster WITHIN each
    * partition directory. */
  def compact(numFiles: Int,
              layout: Option[(String, Seq[String])] = None): MergeStats = {
    val m = manifest(latestVersion)
    val op = layout match {
      case None => "compact"
      case Some(("sort", cols)) => "optimize-sortby-" +
        cols.map(c => m.columnMap.getOrElse(c, c)).mkString("-")
      case Some(("zorder", Seq(_, _))) => "optimize-zorder"
      case Some((kind, cols)) => s"optimize-$kind-${cols.size}d"
    }
    optimize(m, m.files, numFiles, layout, op, full = true)
  }

  /** OPTIMIZE BINPACK — the INCREMENTAL compaction a 100 TB table
    * actually runs: only files below `minRows` rewrite (re-clustered on
    * the key into files of ~`targetRows`), every right-sized file
    * carries by reference. A table fed by streaming micro-merges or
    * appends accumulates small files; a full [[compact]] pays O(table)
    * to fix them — this pays O(small files). Commits as an ordinary
    * delta (NOT an anchor: the untouched bulk stays carried).
    * Rewritten files physically fold their tombstoned rows; tombstone
    * entries stand for the carried files.
    *
    * `maxRows` > 0 additionally SPLITS oversized files: a file whose
    * rows exceed it joins the rewrite set and lands as ~`targetRows`
    * pieces — the other half of the sizing problem (an unsplit multi-GB
    * file caps a scan's per-file parallelism exactly like a thousand
    * slivers cap its task efficiency). No-op (≤ 1 small file, nothing
    * oversized) commits nothing. */
  def compactBinPack(minRows: Long, targetRows: Long = 0L,
                     maxRows: Long = 0L): MergeStats = {
    require(minRows > 0, "minRows must be positive")
    require(maxRows == 0L || maxRows >= minRows,
      "SPLIT threshold must be at least the binpack minimum")
    val target = if (targetRows > 0) targetRows else 2 * minRows
    val m = manifest(latestVersion)
    val small = m.files.filter(_.rows < minRows)
    // maxRows ≥ minRows: an oversized file is never also small
    val oversized = m.files.filter(f => maxRows > 0 && f.rows > maxRows)
    if (small.size <= 1 && oversized.isEmpty)
      return MergeStats(m.version, m.files.size, 0, 0, 0L)
    val rewrite = small ++ oversized
    val rows = rewrite.map(_.rows).sum
    optimize(m, rewrite, math.max(1L, (rows + target - 1) / target).toInt,
      None, "optimize-binpack", full = false)
  }

  /** OPTIMIZE … WHERE — PREDICATE-SCOPED compaction (Delta's
    * `OPTIMIZE t WHERE partition-predicate`): only files whose rows can
    * satisfy `condition` (decided by the same key/partition hit-probe
    * the merge verbs use — manifest-pruned when the predicate allows)
    * rewrite, re-clustered on the key; everything else carries by
    * reference. At 100 TB nobody compacts the whole table — they
    * compact yesterday's partition; a full [[compact]] pays O(table),
    * this pays O(selected). Files only PARTIALLY covered by the
    * predicate still rewrite WHOLE (compaction preserves every row —
    * inclusion is a layout choice, never a semantic one). Commits an
    * ordinary delta (not an anchor). No matching files → no-op.
    *
    * `layout` composes PREDICATE-SCOPED selection with the layouts of
    * the whole-table [[compact]] — `("sort"|"zorder"|"hilbert", cols)`
    * rewrites just the selected files ordered by that layout (the cols
    * join the stats set, so [[LakeManifestPrune]] can skip the
    * re-clustered files on them). This is the real maintenance
    * loop — "re-cluster yesterday's partition" — at O(selected), where
    * the whole-table `OPTIMIZE … ZORDER/HILBERT/SORT BY` pays O(table).
    * Files OUTSIDE the predicate keep their old layout (and carry no
    * stats for new layout columns — pruning there stays conservative
    * until their own rewrite). */
  def compactWhere(condition: org.apache.spark.sql.Column,
                   numFiles: Int = 0,
                   layout: Option[(String, Seq[String])] = None): MergeStats = {
    val m = manifest(latestVersion)
    // the shared predicate-scoped selection (key+partition probe for
    // keyed tables — a partition-scoped OPTIMIZE must not drag in other
    // partitions' files whose key ranges merely overlap; file-identity
    // scan for keyless)
    optimize(m, hitKeptFiles(m, condition)._1, numFiles, layout,
      layout.fold("optimize-where")(l => s"optimize-where-${l._1}"),
      full = false)
  }

  /** OPTIMIZE … MIGRATE — fold pre-evolution LAYOUT ERAS into the
    * current partition spec: only files whose directory signature
    * differs from the spec rewrite (O(older eras), so evolution's debt
    * retires incrementally, a compaction-sized job at a time — never a
    * forced O(table) rewrite at evolution time); files already in the
    * current layout carry by reference. Once migration completes, the
    * snapshot is single-era again and the one-scan fast paths (format
    * reader file relation, ungrouped reads) return. Folds outstanding
    * tombstones like every compaction. No-op when nothing is foreign. */
  def compactMigrate(numFiles: Int = 0): MergeStats = {
    val m = manifest(latestVersion)
    val cur = m.partitionCols.map(_.toLowerCase)
    optimize(m,
      m.files.filter(f => Lake.hiveSig(f.path).map(_.toLowerCase) != cur),
      numFiles, None, "optimize-migrate", full = false)
  }

  /** The one OPTIMIZE core every compaction form feeds: read the selected
    * files `hit` with the outstanding tombstones folded, re-cluster them
    * by `layout` (the key when None) into `numFiles` files, and commit.
    * `full` is the whole-table form: `hit` is the snapshot and the commit
    * is a full (anchor) delta. Otherwise the commit is an incremental
    * delta that removes `hit`, carries every other file by reference and
    * rebases on the `hit ∪ newFiles` key envelope; such a scoped form
    * commits nothing when nothing is selected, and `numFiles` ≤ 0 means
    * the target-size policy over the selected rows. Only the whole-table
    * form hands its manifest row count to the writer's small-write path
    * (which un-clustered writes alone take). */
  private def optimize(m: Manifest, hit: Seq[FileEntry], numFiles: Int,
                       layout: Option[(String, Seq[String])],
                       operation: String, full: Boolean): MergeStats = {
    if (hit.isEmpty && !full)
      return MergeStats(m.version, m.files.size, 0, 0, 0L)
    val hitRows = hit.map(_.rows).sum
    val packed = physical(m, hit)
    val clustered = layout.map(layoutCluster(m, packed, _))
    val statsCols = (m.statsCols ++ clustered.toSeq.flatMap(_._2)).distinct
    val numOut =
      if (full || numFiles > 0) numFiles else sizedFileCount(1, hitRows)
    val newFiles = writeDataFiles(packed, m.keyCol, numOut, statsCols,
      clustered.map(_._1), partitionCols = m.partitionCols,
      estRows = if (full) hitRows else -1L)
    val d = nextDelta(m, operation).copy(statsCols = statsCols, adds = newFiles)
    val cv =
      if (full) commitAndIndex(d.copy(full = true))
      else commitAndIndex(d.copy(removes = hit.map(_.path)),
        rebaseEnvelope = Some(() => rangeEnvelope(hit ++ newFiles)))
    // whole-table forms report no per-row work, scoped forms the rows
    // they rewrote
    MergeStats(cv, m.files.size - hit.size, hit.size, newFiles.size,
      if (full) 0L else hitRows)
  }

  /** The one OPTIMIZE layout map: `(kind, cols)` in LOGICAL names as the
    * cluster expression over the physical frame `df`, plus the physical
    * columns that join the stats set. */
  private def layoutCluster(m: Manifest, df: DataFrame,
                            layout: (String, Seq[String]))
      : (org.apache.spark.sql.Column, Seq[String]) = {
    val (kind, cols) = layout
    val phys = cols.map(c => m.columnMap.getOrElse(c, c))
    val cluster = kind match {
      case "sort" =>
        require(phys.nonEmpty, "SORT BY needs at least one column")
        struct(phys.map(col): _*)
      case "zorder" =>
        require(phys.size >= 2, "ZORDER BY needs at least two columns")
        org.apache.spark.sql.graft.ZValue.zvalueN(phys.map(zDim(df, _)))
      case "hilbert" =>
        require(phys.size >= 2, "HILBERT BY needs at least two columns")
        org.apache.spark.sql.graft.Hilbert.hilbert(phys.map(zDim(df, _)))
      case other =>
        throw new IllegalArgumentException(s"unknown layout '$other'")
    }
    (cluster, phys)
  }

  /** One curve dimension as a LONG clustering value: numeric/date/
    * timestamp columns through [[Lake.statLong]] (range locality — box
    * predicates prune), STRING columns through a 63-bit hash (equality
    * locality only: identical values co-cluster and the per-file
    * truncated-string bounds prune equality predicates; string RANGES
    * don't survive hashing and never prune through this layout). */
  private def zDim(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType => abs(xxhash64(col(c)))
      case _ => Lake.statLong(df, c)
    }

  /** Retention vacuum: drop all but the newest `retainVersions` manifests
    * and physically delete every data file referenced ONLY by the dropped
    * ones. Before anything drops, the horizon version gets a parquet
    * checkpoint unless it already anchors itself — resolution of every
    * retained version must survive the older deltas vanishing. Time
    * travel beyond the horizon becomes a clean failure; the retained
    * snapshots are untouched.
    *
    * SAFETY: only files under THIS table's root are ever deleted — a
    * shallow clone's manifest references absolute paths into its source
    * table, and vacuuming the clone must never reach into the source.
    * Returns (manifests removed, data files removed). */
  def vacuum(retainVersions: Int): (Int, Int) =
    vacuumImpl(retainVersions, dryRun = false)

  // ---- retention pins ---------------------------------------------------

  /** RETENTION PINS — named floors [[vacuum]] refuses to sweep past: a
    * pin file `_pins/<name>` holding a version number declares that the
    * snapshot at that version (its manifest and every file it references)
    * must stay reachable. The MV pinned-read layer declares one per
    * `ALTER MATERIALIZED VIEW … PIN VERSION AS OF`, so a scheduled
    * VACUUM fails LOUDLY naming the pin instead of silently breaking a
    * report's pinned read — the warning-at-pin-time the read alone could
    * never give. Dropping the pin releases the floor. */
  private def pinsDir: Path = new Path(rootPath, "_pins")

  def addRetentionPin(name: String, minVersion: Int): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"invalid retention pin name '$name' (letters, digits, -, _, .)")
    require(minVersion >= 0 && hasVersion(minVersion),
      s"retention pin '$name' names version $minVersion, which is not a " +
        "retained version of this table")
    fs.mkdirs(pinsDir)
    val out = fs.create(new Path(pinsDir, name), true)
    try out.write(minVersion.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def dropRetentionPin(name: String): Boolean =
    try fs.delete(new Path(pinsDir, name), false)
    catch { case _: java.io.FileNotFoundException => false }

  /** Every declared (pin name, pinned version), name-sorted. An
    * UNPARSABLE pin file refuses loudly instead of silently dropping
    * out of the listing — a truncated pin that stopped protecting its
    * snapshot without a word would defeat the feature's whole point
    * (the VACUUM floor check calls this). */
  def retentionPins: Seq[(String, Int)] =
    if (!fs.exists(pinsDir)) Nil
    else fs.listStatus(pinsDir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map { s =>
        val in = fs.open(s.getPath)
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
        s.getPath.getName -> txt.toIntOption.getOrElse(
          throw new IllegalStateException(
            s"retention pin file ${s.getPath} does not hold a version " +
              s"number (content: '${txt.take(40)}') — repair or delete " +
              "the file; refusing rather than silently unprotecting " +
              "the pinned snapshot"))
      }.sortBy(_._1)

  /** What [[vacuum]] WOULD remove — same walk, zero mutation (no
    * horizon checkpoint either): the safety valve before an irreversible
    * retention sweep. Returns (manifests, data files) that would drop. */
  def vacuumDryRun(retainVersions: Int): (Int, Int) =
    vacuumImpl(retainVersions, dryRun = true)

  /** Retention by WALL CLOCK: drop history strictly older than the
    * snapshot current at `tsMillis` (that snapshot itself stays — a
    * reader pinned to "the table as of ts" must keep resolving), the
    * `VACUUM … OLDER THAN` shape. A moment before the earliest retained
    * commit is a no-op. */
  def vacuumOlderThan(tsMillis: Long, dryRun: Boolean = false): (Int, Int) = {
    val horizon =
      try versionAt(tsMillis)
      catch { case _: IllegalArgumentException => return (0, 0) }
    val retain = latestVersion - horizon + 1
    vacuumImpl(retain, dryRun)
  }

  private def vacuumImpl(retainVersions: Int, dryRun: Boolean): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val latest = latestVersion
    val horizon = math.max(0, latest - retainVersions + 1)
    if (horizon == 0) return (0, 0)
    // retention-pin floor: a declared pin below the horizon refuses the
    // WHOLE sweep (dry run included — it reports what the real run does)
    // naming the pin, so a scheduled VACUUM cannot silently break a
    // pinned read; drop the pin or retain more versions
    retentionPins.filter(_._2 < horizon).sortBy(_._2).headOption
      .foreach { case (pn, pv) =>
        throw new IllegalStateException(
          s"VACUUM: retention pin '$pn' holds version $pv, below the " +
            s"sweep horizon v$horizon — the pinned snapshot would become " +
            s"unreachable; drop the pin, or retain at least " +
            s"${latest - pv + 1} versions")
      }
    if (!dryRun && !readDelta(horizon).full && !hasCkpt(horizon)) {
      val (hf, ht) = resolveState(horizon)
      writeCheckpoint(horizon, hf, ht)
    }
    val keepRefs = (horizon to latest).flatMap { v =>
      val (f, t) = resolveState(v)
      (f ++ t).map(_.path)
    }.toSet
    val rootPrefix = rootPath.toString + "/"
    def underRoot(p: Path): Boolean = p.toString.startsWith(rootPrefix)
    var droppedManifests = 0
    var droppedFiles = 0
    val deleted = scala.collection.mutable.Set.empty[String]
    (0 until horizon).foreach { v =>
      val mp = manifestPath(v)
      if (fs.exists(mp)) {
        val d = readDelta(v)
        val candidates = (d.adds ++ d.tombstoneAdds).map(_.path) ++
          (if (hasCkpt(v)) {
            val (f, t) = readCheckpoint(v); (f ++ t).map(_.path)
          } else Nil)
        candidates.foreach { p =>
          if (!keepRefs.contains(p) && !deleted.contains(p)) {
            val resolved = new Path(rootPath, p)
            val goes =
              if (dryRun) underRoot(resolved) && fs.exists(resolved)
              else underRoot(resolved) && fs.delete(resolved, false)
            if (goes) {
              droppedFiles += 1
              deleted += p
            }
          }
        }
        if (!dryRun) {
          if (hasCkpt(v)) fs.delete(ckptPath(v), false)
          fs.delete(mp, false)
        }
        droppedManifests += 1
      }
    }
    // bloom sidecar GC: a sidecar whose rows ALL reference now-dead data
    // files is unreachable by any probe — sweep it with the same walk
    if (!dryRun && droppedFiles > 0)
      LakeBloom.vacuumSidecars(spark, rootPath,
        keepRefs.map(p => new Path(p).getName))
    // stale-scratch GC: a writer killed hard (OOM, node loss) can leak a
    // `_scratch-*` directory that its own finally never swept. Age gates
    // the sweep (default 1 h; spark.graft.lake.scratchTtlMs) — measured
    // as the NEWEST mtime in the whole subtree, because a directory's
    // own mtime only reflects its last direct-child mutation (the
    // _temporary dir created at job start): a live long-running write
    // keeps touching leaves, so its newest leaf is always seconds old,
    // while a true orphan goes cold everywhere. The walk is per-scratch
    // and scratch dirs are rare — metadata-cheap.
    if (!dryRun) {
      val ttl = spark.conf
        .get("spark.graft.lake.scratchTtlMs", "3600000").toLong
      val cutoff = System.currentTimeMillis() - ttl
      def newestMtime(p: Path): Long = {
        val st = try fs.listStatus(p)
          catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
        st.foldLeft(fs.getFileStatus(p).getModificationTime) { (acc, s) =>
          math.max(acc,
            if (s.isDirectory) newestMtime(s.getPath)
            else s.getModificationTime)
        }
      }
      fs.listStatus(rootPath).foreach { s =>
        if (s.isDirectory && s.getPath.getName.startsWith("_scratch-") &&
            s.getModificationTime < cutoff &&
            newestMtime(s.getPath) < cutoff)
          fs.delete(s.getPath, true)
      }
    }
    (droppedManifests, droppedFiles)
  }
}
