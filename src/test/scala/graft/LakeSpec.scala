package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The snapshot/manifest lakehouse (graft.sources.Lake): COW MERGE
  * equivalence with the in-memory upsert, time travel to the pre-merge
  * snapshot, file pruning by manifest key ranges, insert-only merges, and
  * commit atomicity under a version race. */
class LakeSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTable(partitionBy: Seq[String] = Nil) = {
    // 90 rows over keys 1..90, three disjoint-range files (1-30, 31-60, 61-90)
    val df = (1L to 90L).map(k => (k, s"val$k", "A")).toDF("k", "payload", "status")
    Lake.create(spark, Lake.freshRoot(), df, "k", 3, partitionBy = partitionBy)
  }

  test("create → read roundtrip preserves the relation") {
    val t = mkTable()
    t.latestVersion shouldBe 0
    t.read().count() shouldBe 90L
    t.read().agg(min("k"), max("k")).collect()(0).toSeq shouldBe Seq(1L, 90L)
    val m = t.manifest(0)
    m.files should have size 3
    // disjoint, fully-covering key ranges — the pruning contract
    val ranges = m.files.map(f => (f.minKey, f.maxKey)).sortBy(_._1)
    ranges.head._1 shouldBe 1L
    ranges.last._2 shouldBe 90L
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) => lo should be > hi }
    // a repeated stats column is stored once, not carried into every manifest
    Lake.create(spark, Lake.freshRoot(), t.read(), "k", 3,
      statsCols = Seq("status", "status")).manifest(0).statsCols shouldBe Seq("status")
  }

  test("COW merge equals the in-memory upsert; previous snapshot still readable") {
    val t = mkTable()
    val target = t.read()
    val updates = Seq((5L, "NEW5", "U"), (42L, "NEW42", "U"), (200L, "INS200", "I"))
      .toDF("k", "payload", "status")
    val stats = t.merge(updates)
    stats.version shouldBe 1
    stats.updateRows shouldBe 3L
    // storage result ≡ dataflow result
    val expected = rows(graft.ops.Relational.upsert(target, updates, Seq("k")).orderBy("k"))
    rows(t.read().orderBy("k")) shouldBe expected
    // time travel: version 0 is untouched by the merge
    rows(t.snapshot(0).orderBy("k")) shouldBe rows(target.orderBy("k"))
    t.snapshot(0).count() shouldBe 90L
    t.read().count() shouldBe 91L
  }

  test("manifest key ranges prune unhit files: only intersecting files rewrite") {
    val t = mkTable()
    val v0Files = t.manifest(0).files.map(_.path).toSet
    // keys 5 and 7 live in the first file's range only
    val updates = Seq((5L, "NEW5", "U"), (7L, "NEW7", "U")).toDF("k", "payload", "status")
    val stats = t.merge(updates)
    stats.rewrittenFiles shouldBe 1
    stats.keptFiles shouldBe 2
    val v1Files = t.manifest(1).files.map(_.path).toSet
    // the two kept files carry over BY REFERENCE — same paths, never copied
    (v0Files intersect v1Files) should have size 2
    // and the rewritten v0 file still exists on disk for time travel
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    v0Files.foreach { p => fs.exists(new Path(t.root, p)) shouldBe true }
    rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "NEW5", "U"))
    t.read().count() shouldBe 90L
  }

  test("insert-only merge rewrites nothing") {
    val t = mkTable()
    val stats = t.merge(Seq((1000L, "INS", "I")).toDF("k", "payload", "status"))
    stats.rewrittenFiles shouldBe 0
    stats.keptFiles shouldBe 3
    t.read().count() shouldBe 91L
  }

  test("a second committer of the same version loses the race loudly") {
    val t = mkTable()
    // a racing writer lands version 1 first (a valid carry-over manifest)…
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val racing = t.manifest(0).copy(version = 1, parentVersion = 0, operation = "merge")
    val out = fs.create(new Path(t.root, "_manifests/v00001.json"), false)
    out.write(Lake.toJson(racing).getBytes); out.close()
    // …so OUR commit of version 1 (decided before the race was visible)
    // must refuse rather than clobber the winner
    intercept[java.util.ConcurrentModificationException] {
      t.commit(t.manifest(0).copy(version = 1, parentVersion = 0,
        operation = "merge"))
    }
    // the winner's version stays intact and readable
    t.latestVersion shouldBe 1
    t.read().count() shouldBe 90L
  }

  test("withRetry(merge) replays a lost commit race against the winner's state") {
    val t = mkTable()
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the racing winner lands version 1 AFTER our merge has picked its
    // target but BEFORE it commits — the narrowest possible race window
    var raced = false
    t.onBeforeCommit = () => {
      if (!raced) {
        raced = true
        val racing = t.manifest(0).copy(version = 1, parentVersion = 0,
          operation = "merge")
        val out = fs.create(new Path(t.root, "_manifests/v00001.json"), false)
        out.write(Lake.toJson(racing).getBytes); out.close()
      }
    }
    try {
      val stats = t.withRetry(t.merge(
        Seq((5L, "NEW5", "U")).toDF("k", "payload", "status")))
      // attempt 1 lost v1; the replay re-read the winner's snapshot and
      // committed v2 with the upsert applied
      stats.version shouldBe 2
      rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "NEW5", "U"))
      t.read().count() shouldBe 90L
    } finally t.onBeforeCommit = () => ()
    // exhausted retries still fail loudly, after exactly 3 attempts
    var attempts = 0
    t.onBeforeCommit = () => {
      attempts += 1
      val v = t.latestVersion + 1
      val racing = t.manifest(0).copy(version = v, parentVersion = v - 1,
        operation = "merge")
      val out = fs.create(new Path(t.root, f"_manifests/v$v%05d.json"), false)
      out.write(Lake.toJson(racing).getBytes); out.close()
    }
    try intercept[java.util.ConcurrentModificationException] {
      t.withRetry(t.merge(Seq((6L, "X", "U")).toDF("k", "payload", "status")))
    } finally t.onBeforeCommit = () => ()
    attempts shouldBe 3
  }

  test("COW delete: partial files rewrite to survivors, full files vanish") {
    val t = mkTable()
    // erase keys 1-30 (the whole first file) plus 45 (mid-second-file)
    val keys = ((1L to 30L) :+ 45L).toDF("k")
    val stats = t.delete(keys)
    stats.rewrittenFiles shouldBe 2
    stats.keptFiles shouldBe 1
    // the fully-erased file leaves no successor: survivors re-cluster
    t.read().count() shouldBe 59L
    t.read().filter(col("k") <= 30L || col("k") === 45L).count() shouldBe 0L
    rows(t.read().agg(min("k"), max("k"))) shouldBe Seq(Seq(31L, 90L))
    // pre-delete snapshot intact
    t.snapshot(0).count() shouldBe 90L
  }

  test("deferred delete: tombstones only, zero rewrites; compact folds them") {
    val t = mkTable()
    val v0Files = t.manifest(0).files.map(_.path)
    val stats = t.deleteDeferred(((1L to 30L) :+ 45L).toDF("k"))
    stats.rewrittenFiles shouldBe 0
    // every data file carries BY REFERENCE — the write-cheap contract
    t.manifest(1).files.map(_.path) shouldBe v0Files
    t.manifest(1).tombstones should have size 1
    t.read().count() shouldBe 59L
    t.read().filter(col("k") <= 30L || col("k") === 45L).count() shouldBe 0L
    // readRange applies tombstones too
    t.readRange(40L, 50L).count() shouldBe 10L // 40..50 minus 45
    // deferred deletes stack
    t.deleteDeferred(Seq(50L).toDF("k"))
    t.manifest(2).tombstones should have size 2
    t.read().count() shouldBe 58L
    // the change feed sees THROUGH tombstoned endpoints: every dead key
    // emits a delete — including ones whose physical rows sit in files
    // the interval carried by reference
    val feed = t.changes(0, 2)
    feed.filter(col("_change_type") === "delete").count() shouldBe 32L
    feed.count() shouldBe 32L
    // compaction folds tombstones into a clean snapshot
    t.compact(2)
    t.manifest(3).tombstones shouldBe empty
    t.read().count() shouldBe 58L
    // earlier snapshots still read with their own tombstone view
    t.snapshot(1).count() shouldBe 59L
    t.snapshot(0).count() shouldBe 90L
  }

  test("verbs work THROUGH outstanding tombstones (deletion-vector semantics)") {
    val t = mkTable()
    t.deleteDeferred(((1L to 30L) :+ 45L).toDF("k")) // v1: 59 live rows
    // MERGE through tombstones: key 5 (dead) revives, key 35 (alive)
    // updates, key 95 (new) inserts — and only key 5 leaves the
    // tombstone set
    t.merge(Seq((5L, "BACK5", "U"), (35L, "U35", "U"), (95L, "I95", "U"))
      .toDF("k", "payload", "status"))
    t.read().count() shouldBe 61L // 59 + revived 5 + inserted 95
    rows(t.read().filter(col("k").isin(5L, 35L, 95L))
      .select("k", "payload").orderBy("k")) shouldBe
      Seq(Seq(5L, "BACK5"), Seq(35L, "U35"), Seq(95L, "I95"))
    t.read().filter(col("k") === 7L).count() shouldBe 0L // still dead
    // rewritten files physically dropped their dead rows; the tombstone
    // set shed exactly the revived key
    val m2 = t.manifest(t.latestVersion)
    m2.tombstones should not be empty
    // COW delete through tombstones: deleting a live key works, the
    // remaining dead keys stay dead
    t.delete(Seq(60L).toDF("k"))
    t.read().count() shouldBe 60L
    t.read().filter(col("k") === 45L).count() shouldBe 0L
    // conditional merge through tombstones: a dead key is NOT MATCHED
    // (its row is deleted) and re-inserts fresh
    t.mergeInto(Seq((7L, "BACK7", "U")).toDF("k", "payload", "status"))
    rows(t.read().filter(col("k") === 7L)) shouldBe Seq(Seq(7L, "BACK7", "U"))
    t.read().count() shouldBe 61L
    // a no-insert conditional merge on a dead key changes nothing visible
    t.mergeInto(Seq((8L, "NOPE", "U")).toDF("k", "payload", "status"),
      whenNotMatchedInsert = false)
    t.read().filter(col("k") === 8L).count() shouldBe 0L
    t.read().count() shouldBe 61L
    // the final fold still reaches a clean identical-reading snapshot
    val before = rows(t.read().orderBy("k"))
    t.compact(2)
    t.manifest(t.latestVersion).tombstones shouldBe empty
    rows(t.read().orderBy("k")) shouldBe before
  }

  test("delete of every row leaves a valid empty snapshot") {
    val t = mkTable()
    t.delete((1L to 90L).toDF("k"))
    t.read().count() shouldBe 0L
    t.manifest(t.latestVersion).files shouldBe empty
    t.snapshot(0).count() shouldBe 90L
  }

  test("compact rewrites the snapshot into fewer clustered files, COW-safe") {
    val t = mkTable()
    t.merge(Seq((200L, "INS", "I"), (300L, "INS", "I")).toDF("k", "payload", "status"))
    val before = t.manifest(t.latestVersion).files.size
    val stats = t.compact(1)
    stats.addedFiles shouldBe 1
    val m = t.manifest(t.latestVersion)
    m.operation shouldBe "compact"
    m.files should have size 1
    m.files.size should be < before
    t.read().count() shouldBe 92L
    t.snapshot(stats.version - 1).count() shouldBe 92L // pre-compact readable
  }

  test("vacuum drops expired snapshots and ONLY their unshared files") {
    val t = mkTable()
    t.merge(Seq((5L, "NEW5", "U")).toDF("k", "payload", "status")) // v1: 1 rewrite
    t.merge(Seq((65L, "NEW65", "U")).toDF("k", "payload", "status")) // v2
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0Only = t.manifest(0).files.map(_.path).toSet --
      t.manifest(1).files.map(_.path).toSet -- t.manifest(2).files.map(_.path).toSet
    v0Only should not be empty
    val (mans, files) = t.vacuum(2) // retain v1, v2
    mans shouldBe 1
    files shouldBe v0Only.size
    v0Only.foreach(p => fs.exists(new Path(t.root, p)) shouldBe false)
    // retained versions read intact
    t.snapshot(1).count() shouldBe 90L
    t.read().count() shouldBe 90L
    rows(t.read().filter(col("k") === 65L)) shouldBe Seq(Seq(65L, "NEW65", "U"))
    // time travel past the horizon fails cleanly
    intercept[Exception] { t.snapshot(0).count() }
    // idempotent
    t.vacuum(2) shouldBe ((0, 0))
  }

  test("readRange scans ONLY the manifest-pruned files, same answer as a filter") {
    val t = mkTable()
    val pruned = t.readRange(40L, 50L)
    // answer equality with the unpruned filtered read
    rows(pruned.orderBy("k")) shouldBe
      rows(t.read().filter(col("k").between(40L, 50L)).orderBy("k"))
    // and the scan relation really contains one file (keys 31-60), not three
    val filesScanned = t.readRange(40L, 50L)
      .select(input_file_name()).distinct().count()
    filesScanned shouldBe 1L
    // an empty range returns an empty (but well-typed) relation
    t.readRange(5000L, 6000L).count() shouldBe 0L
  }

  test("mergeEpoch commits at most once per epoch (replay is a no-op)") {
    val t = mkTable()
    val batch = Seq((5L, "E5", "U")).toDF("k", "payload", "status")
    t.mergeEpoch(batch, 7L).isDefined shouldBe true
    val vAfter = t.latestVersion
    // a replayed epoch finds its own commit in the manifest chain
    t.mergeEpoch(batch, 7L) shouldBe None
    t.latestVersion shouldBe vAfter
    t.hasEpoch(7L) shouldBe true
    t.hasEpoch(8L) shouldBe false
    // a later epoch commits normally
    t.mergeEpoch(Seq((6L, "E6", "U")).toDF("k", "payload", "status"), 8L)
      .isDefined shouldBe true
    rows(t.read().filter(col("k").isin(5L, 6L)).orderBy("k")) shouldBe
      Seq(Seq(5L, "E5", "U"), Seq(6L, "E6", "U"))
  }

  test("change feed classifies insert/update/delete; identical rewrites emit nothing") {
    val t = mkTable()
    t.merge(Seq((5L, "NEW5", "U"), (42L, "NEW42", "U"), (200L, "INS200", "I"))
      .toDF("k", "payload", "status"))
    t.delete(Seq(7L).toDF("k"))
    val feed = t.changes(0, t.latestVersion)
    // note "update_postimage" < "update_preimage" lexicographically
    rows(feed.orderBy("k", "_change_type")) shouldBe Seq(
      Seq(5L, "NEW5", "U", "update_postimage"),
      Seq(5L, "val5", "A", "update_preimage"),
      Seq(7L, "val7", "A", "delete"),
      Seq(42L, "NEW42", "U", "update_postimage"),
      Seq(42L, "val42", "A", "update_preimage"),
      Seq(200L, "INS200", "I", "insert"))
    // rows that rode along in rewritten files (e.g. k=6, same file as 5/7)
    // never appear — the feed is changes, not rewrites
    feed.filter(col("k") === 6L).count() shouldBe 0L
  }

  test("change feed is NET: an update reverted inside the interval emits nothing") {
    val t = mkTable()
    t.merge(Seq((5L, "X", "U")).toDF("k", "payload", "status"))
    t.merge(Seq((5L, "val5", "A")).toDF("k", "payload", "status")) // revert
    t.changes(0, t.latestVersion).count() shouldBe 0L
    // but each single hop still reports its own delta
    t.changes(0, 1).filter(col("_change_type") === "update_postimage")
      .select("payload").collect().map(_.getString(0)).toSeq shouldBe Seq("X")
  }

  test("change feed scans only files added or removed, never carried ones") {
    val t = mkTable()
    // key 5 lives in the first file only: one rewrite, two carries
    t.merge(Seq((5L, "NEW5", "U")).toDF("k", "payload", "status"))
    val carried = t.manifest(0).files.map(_.path).toSet
      .intersect(t.manifest(1).files.map(_.path).toSet)
    carried should have size 2
    val feed = t.changes(0, 1)
    val scans = feed.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val scanned = scans.flatMap(_.relation.location.inputFiles)
      .map(p => new Path(p).getName).toSet
    carried.map(p => new Path(p).getName)
      .intersect(scanned) shouldBe empty
    scanned should not be empty
  }

  test("incremental MV fold over the feed equals a from-scratch aggregate") {
    val t = mkTable()
    t.merge(Seq((5L, "NEW5", "U"), (42L, "NEW42", "U"), (200L, "INS200", "I"))
      .toDF("k", "payload", "status"))
    t.delete((1L to 10L).toDF("k"))
    // MV: per-status (row count, sum of keys) built at v0, advanced by feed
    val mv0 = t.snapshot(0).groupBy("status")
      .agg(count(lit(1)).as("n"), sum("k").as("s"))
    val feed = t.changes(0, t.latestVersion)
    val delta = feed.withColumn("sgn",
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
      .groupBy("status")
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("k")).as("ds"))
    val folded = mv0.join(delta, Seq("status"), "full_outer")
      .select(col("status"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
      .filter(col("n") > 0L)
    val recomputed = t.read().groupBy("status")
      .agg(count(lit(1)).as("n"), sum("k").as("s"))
    rows(folded.orderBy("status")) shouldBe rows(recomputed.orderBy("status"))
  }

  test("schema evolution: a widening merge backfills null everywhere else") {
    val t = mkTable()
    // key 5 lives in file 1 only: files 2-3 carry over with the OLD schema
    val widened = Seq((5L, "NEW5", "U", "BACKFILL"))
      .toDF("k", "payload", "status", "channel")
    t.merge(widened)
    val r = t.read()
    r.columns should contain("channel")
    rows(r.filter(col("k") === 5L).select("payload", "channel")) shouldBe
      Seq(Seq("NEW5", "BACKFILL"))
    // survivors of the rewritten file AND carried old-schema files: null
    r.filter(col("channel").isNull).count() shouldBe 89L
    rows(r.filter(col("k") === 45L).select("payload", "channel")) shouldBe
      Seq(Seq("val45", null))
    // the pre-evolution snapshot keeps its original narrow schema
    t.snapshot(0).columns should not contain "channel"
    // widen, never narrow: updates MISSING a table column refuse loudly
    // (allowMissingColumns would otherwise null the column on updated rows)
    intercept[IllegalArgumentException] {
      t.merge(Seq((6L, "NARROW")).toDF("k", "payload"))
    }
    // the change feed speaks the widened schema: preimage null, postimage set
    val feed = t.changes(0, 1)
    rows(feed.orderBy("_change_type").select("payload", "channel", "_change_type")) shouldBe
      Seq(Seq("NEW5", "BACKFILL", "update_postimage"),
        Seq("val5", null, "update_preimage"))
  }

  test("manifest commit: simultaneous committers of one version, one winner") {
    // the TRUE rename race (all committers in flight at once), not the
    // planted-before shape other specs use: POSIX rename REPLACES an
    // existing destination, so without the hard-link publish primitive
    // several racers would "win" and all but the last would silently
    // vanish from history
    val t = mkTable() // v0
    val m = t.manifest(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val racers = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = scala.util.Try {
            t.commitDelta(graft.sources.Lake.Delta(1, 0, s"racer-$i",
              m.keyCol, m.statsCols, m.partitionCols, full = true,
              adds = m.files, removes = Nil,
              tombstoneAdds = Nil, tombstoneRemoves = Nil))
          }.isSuccess
        })
      }
      racers.count(_.get()) shouldBe 1 // one winner, seven clean losses
      t.manifest(1).operation should startWith("racer-")
    } finally pool.shutdown()
  }

  test("protocol features: an unknown required feature refuses every verb") {
    val t = mkTable() // v0
    t.merge(Seq((5L, "x", "B")).toDF("k", "payload", "status")) // v1
    // a FUTURE engine build lands v2 requiring a feature this build lacks
    val future = graft.sources.Lake.fullDelta(t.manifest(1)).copy(
      version = 2, parentVersion = 1, operation = "future-verb",
      commitTs = System.currentTimeMillis(),
      requiredFeatures = Seq("frobnication-v2"))
    val fs = new Path(t.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(t.root, "_manifests/v00002.json"), false)
    out.write(Lake.toJson(future).getBytes); out.close()
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      e.getMessage should include("frobnication-v2")
      e.getMessage should include("Upgrade the engine")
    }
    refuses(t.read().collect())
    refuses(t.merge(Seq((9L, "y", "C")).toDF("k", "payload", "status")))
    refuses(t.insertAll(
      Seq((900L, "z", "Z")).toDF("k", "payload", "status")))
    refuses(t.deleteWhere(lit(true)))
    refuses(t.compact(1))
    refuses(t.changes(1, 2))
    refuses(t.restore(1))
    // ...but snapshots BELOW the future commit stay readable: the gate is
    // per-commit, so history written by THIS build is never held hostage
    t.snapshot(1).count() shouldBe 90L
    t.changes(0, 1).count() shouldBe 2L // the v1 update's pre+post images
    // and commits THIS build writes stamp their own requirements, derived
    // (never hand-maintained): a keyless + constrained + tombstoned table
    val t2 = Lake.createAppendLog(spark, Lake.freshRoot(),
      Seq((1L, "a")).toDF("id", "msg"), 1)
    Lake.fromJson(readManifest(t2, 0))
      .requiredFeatures should contain("keyless")
    val t3 = mkTable()
    t3.addConstraint("c1", "k > 0")
    Lake.fromJson(readManifest(t3, 1))
      .requiredFeatures should contain("check-constraints")
    t3.renameColumn("payload", "note")
    Lake.fromJson(readManifest(t3, 2))
      .requiredFeatures should contain("column-mapping")
    t3.deleteDeferred(Seq(5L).toDF("k"))
    Lake.fromJson(readManifest(t3, 3))
      .requiredFeatures should contain("deferred-deletes")
    // the operational surface shows the SNAPSHOT's requirements — and a
    // later commit that stamps nothing itself must not make them vanish
    // while the tombstones still bind every reader
    t3.merge(Seq((7L, "later", "L")).toDF("k", "note", "status"))
    val det = t3.detailDf().collect()(0).getAs[String]("required_features")
    det should include("deferred-deletes")
    det should include("check-constraints")
    det should include("column-mapping")
    // pre-versioning manifests (no requiredFeatures field) = implicit v1:
    // rewrite v0 with the LEGACY full-snapshot writer and read unchanged
    val legacy = Lake.toJson(t2.manifest(0))
    legacy should not include "requiredFeatures"
    val fs2 = new Path(t2.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs2.delete(new Path(t2.root, "_manifests/v00000.json"), false)
    val out2 = fs2.create(new Path(t2.root, "_manifests/v00000.json"), false)
    out2.write(legacy.getBytes); out2.close()
    Lake.clearMetadataCaches()
    t2.read().count() shouldBe 1L
  }

  private def readManifest(t: graft.sources.LakeTable, v: Int): String = {
    val fs = new Path(t.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(t.root, f"_manifests/v$v%05d.json"))
    try new String(in.readAllBytes()) finally in.close()
  }

  test("degenerate change interval on an emptied table keeps the feed contract") {
    // the feed contract is "data schema plus _change_type"; an interval
    // over a snapshot with zero files must still speak it when the commit
    // chain recorded a schema — a batch consumer selecting data columns
    // on the degenerate interval analyzes like on any other
    val t = Lake.createAppendLog(spark, Lake.freshRoot(),
      Seq((1L, "a")).toDF("id", "msg"), 1) // keyless
    t.deleteWhere(lit(true)) // v1: zero data files
    val feed = t.changes(1, 1)
    feed.columns.toSeq shouldBe Seq("id", "msg", "_change_type")
    feed.select("id", "msg").count() shouldBe 0L
    val tk = Lake.create(spark, Lake.freshRoot(),
      Seq((1L, "a")).toDF("k", "payload"), "k", 1) // keyed twin
    tk.deleteWhere(lit(true))
    val fk = tk.changes(1, 1)
    fk.columns.toSeq shouldBe Seq("k", "payload", "_change_type")
    fk.select("k", "payload").count() shouldBe 0L
  }

  test("rewrite-only commits (compact, zorder) emit an EMPTY change feed") {
    // every file changes, no row does: the full-row compare must cancel
    // the entire table — the strongest form of the identical-rewrite rule
    val t = mkTable()
    t.compact(1)
    t.changes(0, 1).count() shouldBe 0L
    t.compact(2, Some(("zorder", Seq("k", "k"))))
    t.changes(1, 2).count() shouldBe 0L
    t.changes(0, 2).count() shouldBe 0L
    // and a real change through a rewrite chain still surfaces, exactly once
    import spark.implicits._
    t.merge(Seq((5L, "NEW5", "U")).toDF("k", "payload", "status"))
    t.compact(3)
    val feed = t.changes(0, t.latestVersion)
    feed.count() shouldBe 2L // pre + post image for k=5 only
    feed.select("k").distinct().collect().map(_.getLong(0)).toSeq shouldBe Seq(5L)
  }

  test("restore rolls back as a NEW commit; shallow clone shares files zero-copy") {
    val t = mkTable()
    t.merge(Seq((5L, "BAD5", "U")).toDF("k", "payload", "status"))
    t.delete(Seq(7L).toDF("k"))
    // restore: content equals v0, bad history stays inspectable
    val s = t.restore(0)
    s.version shouldBe 3
    rows(t.read().orderBy("k")) shouldBe rows(t.snapshot(0).orderBy("k"))
    t.manifest(3).operation shouldBe "restore-v0"
    t.snapshot(2).count() shouldBe 89L
    // and the restore commit produces an empty change feed vs v0
    t.changes(0, 3).count() shouldBe 0L
    // shallow clone: reads equal, zero data copied, diverges independently
    val c = t.cloneShallow(Lake.freshRoot())
    rows(c.read().orderBy("k")) shouldBe rows(t.read().orderBy("k"))
    c.manifest(0).files.map(p => new Path(p.path).getName).toSet shouldBe
      t.manifest(3).files.map(f => new Path(f.path).getName).toSet
    c.merge(Seq((1L, "CLONE1", "C")).toDF("k", "payload", "status"))
    rows(c.read().filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "CLONE1", "C"))
    rows(t.read().filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "val1", "A"))
  }

  test("seeded fuzz: random commit sequences keep the feed fold ≡ recompute") {
    // 5 rounds of random upserts + deletes; after EVERY commit the
    // endpoint feed folded over the v0 MV must equal a from-scratch
    // aggregate, and per-commit folds must compose to the endpoint fold —
    // one test walking insert-only, update-only, mixed, and
    // full-file-erasure paths the targeted tests cover one at a time
    val rnd = new scala.util.Random(42)
    val t = mkTable()
    def mvOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("status").agg(count(lit(1)).as("n"), sum("k").as("s"))
    def fold(mv: org.apache.spark.sql.DataFrame,
             feed: org.apache.spark.sql.DataFrame) = {
      val delta = feed.withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("status")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("k")).as("ds"))
      mv.join(delta, Seq("status"), "full_outer")
        .select(col("status"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
        .filter(col("n") > 0L)
    }
    var stepped = mvOf(t.snapshot(0)).localCheckpoint()
    var nextIns = 1000L
    (1 to 10).foreach { round =>
      val vBefore = t.latestVersion
      // mixed verb walk INCLUDING merge-on-read deletes, appends, and
      // both compaction forms — every verb works through outstanding
      // tombstones, and the feed must stay fold-exact across all of them
      rnd.nextInt(7) match {
        case 0 | 1 =>
          val ks = Seq.fill(1 + rnd.nextInt(20))(1L + rnd.nextInt(120)).distinct
          t.merge(ks.map(k => (k, s"r$round-$k", s"S${rnd.nextInt(3)}"))
            .toDF("k", "payload", "status"))
        case 2 =>
          val ks = Seq.fill(1 + rnd.nextInt(30))(1L + rnd.nextInt(120)).distinct
          t.delete(ks.toDF("k"))
        case 3 =>
          val ks = Seq.fill(1 + rnd.nextInt(15))(1L + rnd.nextInt(120)).distinct
          t.deleteDeferred(ks.toDF("k"))
        case 4 =>
          t.compact(1 + rnd.nextInt(3))
        case 5 =>
          val n = 1 + rnd.nextInt(8)
          val ks = (nextIns until nextIns + n).toSeq
          nextIns += n
          t.insertAll(ks.map(k => (k, s"i$round-$k", s"S${rnd.nextInt(3)}"))
            .toDF("k", "payload", "status"))
        case 6 =>
          t.compactBinPack(minRows = 5 + rnd.nextInt(20),
            targetRows = 30)
      }
      val v = t.latestVersion
      // a no-op verb (e.g. binpack with ≤1 small file) commits nothing:
      // folding would double-apply the previous span
      if (v > vBefore)
        stepped = fold(stepped, t.changes(v - 1, v)).localCheckpoint()
      val direct = fold(mvOf(t.snapshot(0)), t.changes(0, v))
      val recomputed = mvOf(t.read())
      rows(stepped.orderBy("status")) shouldBe rows(recomputed.orderBy("status"))
      rows(direct.orderBy("status")) shouldBe rows(recomputed.orderBy("status"))
    }
  }

  test("conditional MERGE: delete/update/carry clause matrix, insert toggle") {
    val t = mkTable() // keys 1..90, payload valK, status A
    // matched keys: 5 (delete clause), 42 (update clause), 61 (neither —
    // carries unchanged); key 200 is unmatched (insert)
    val updates = Seq(
      (5L, "DEL", "D"), (42L, "UPD", "U"), (61L, "NOPE", "N"),
      (200L, "INS", "I")).toDF("k", "payload", "status")
    val stats = t.mergeInto(updates,
      whenMatchedDeleteIf = Some(col("source.status") === "D"),
      whenMatchedUpdateIf = Some(col("source.status") === "U"))
    stats.version shouldBe 1
    val r = t.read()
    r.count() shouldBe 90L // -1 delete +1 insert
    r.filter(col("k") === 5L).count() shouldBe 0L
    rows(r.filter(col("k") === 42L)) shouldBe Seq(Seq(42L, "UPD", "U"))
    rows(r.filter(col("k") === 61L)) shouldBe Seq(Seq(61L, "val61", "A"))
    rows(r.filter(col("k") === 200L)) shouldBe Seq(Seq(200L, "INS", "I"))
    // default clauses = plain upsert; insert toggle off drops unmatched
    val t2 = mkTable()
    t2.mergeInto(Seq((7L, "UP7", "U"), (300L, "NOINS", "I"))
      .toDF("k", "payload", "status"), whenNotMatchedInsert = false)
    rows(t2.read().filter(col("k") === 7L)) shouldBe Seq(Seq(7L, "UP7", "U"))
    t2.read().filter(col("k") === 300L).count() shouldBe 0L
    t2.read().count() shouldBe 90L
    // unhit-table insert-only path (no file's range covers the keys)
    val t3 = mkTable()
    t3.mergeInto(Seq((500L, "I500", "I")).toDF("k", "payload", "status"))
    t3.read().count() shouldBe 91L
    // refusals: duplicate source keys, schema drift
    intercept[IllegalArgumentException] {
      t.mergeInto(Seq((9L, "A", "X"), (9L, "B", "Y"))
        .toDF("k", "payload", "status"))
    }
    intercept[IllegalArgumentException] {
      t.mergeInto(Seq((9L, "A", "X", "EXTRA"))
        .toDF("k", "payload", "status", "channel"))
    }
    // the upsert refuses duplicate source keys the same way
    intercept[IllegalArgumentException] {
      t.merge(Seq((9L, "A", "X"), (9L, "B", "Y"))
        .toDF("k", "payload", "status"))
    }
    t.latestVersion shouldBe 1
    // time travel still sees the pre-merge state
    t.snapshot(0).count() shouldBe 90L
  }

  test("chained merges: each snapshot remains readable at its own version") {
    val t = mkTable()
    t.merge(Seq((1L, "A1", "U")).toDF("k", "payload", "status"))
    t.merge(Seq((1L, "A2", "U")).toDF("k", "payload", "status"))
    t.latestVersion shouldBe 2
    rows(t.snapshot(0).filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "val1", "A"))
    rows(t.snapshot(1).filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "A1", "U"))
    rows(t.snapshot(2).filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "A2", "U"))
    t.manifest(2).parentVersion shouldBe 1
    t.manifest(2).operation shouldBe "merge"
  }
  test("mergeInto rejects null merge keys loudly") {
    val src = Seq((Some(5L), "OK", "U"), (None, "NULLKEY", "U"))
      .toDF("k", "payload", "status")
    val dup = Seq((95L, "A", "U"), (95L, "B", "U")).toDF("k", "payload", "status")
    val verbs = Seq[(String, graft.sources.LakeTable => Any, String)](
      ("mergeInto", _.mergeInto(src), "null merge keys"),
      ("merge", _.merge(src), "null merge keys"),
      ("mergeEpoch", _.mergeEpoch(src, 0L), "null merge keys"),
      // INSERT's key discipline rides the same probe
      ("insertAll", _.insertAll(src), "insert rows carry null keys"),
      ("insertAll dup", _.insertAll(dup),
        "insert rows carry duplicate keys within the batch"))
    // unpartitioned tables take the fused probe, partitioned ones the
    // range join: both refuse before anything commits
    Seq(Nil, Seq("status")).foreach { partitionBy =>
      val t = mkTable(partitionBy)
      verbs.foreach { case (name, verb, msg) =>
        withClue(s"$name on partitionBy=$partitionBy: ") {
          val e = intercept[IllegalArgumentException] { verb(t) }
          e.getMessage should include(msg)
          t.latestVersion shouldBe 0 // nothing committed
        }
      }
    }
  }

  test("mergeInto evaluates its source exactly once (materialization barrier)") {
    val verbs = Seq[(String, (graft.sources.LakeTable, org.apache.spark.sql.DataFrame) => Any)](
      "mergeInto" -> (_.mergeInto(_)), "merge" -> (_.merge(_)))
    verbs.foreach { case (name, verb) => withClue(s"$name: ") {
      val t = mkTable()
      val evals = spark.sparkContext.longAccumulator("src-evals")
      val bump = udf { (k: Long) => evals.add(1L); k }
      val src = Seq((5L, "U5", "U"), (35L, "U35", "U"), (95L, "I95", "U"))
        .toDF("k", "payload", "status")
        .withColumn("k", bump(col("k")))
      verb(t, src)
      // the verb consumes the source from several operators (hit probe, key
      // checks, clause join, insert anti-join); without the localCheckpoint
      // barrier each consumer would re-run the source plan and the
      // accumulator would read a multiple of 3
      evals.value shouldBe 3L
      rows(t.read().filter(col("k").isin(5L, 35L, 95L))
        .select("k", "payload").orderBy("k")) shouldBe
        Seq(Seq(5L, "U5"), Seq(35L, "U35"), Seq(95L, "I95"))
    } }
  }
  test("disjoint-commit fast path: range-disjoint racers commit without replay") {
    val t = mkTable() // files 1-30, 31-60, 61-90
    val winner = new graft.sources.LakeTable(spark, t.root)
    var planted = false
    t.onBeforeCommit = () => if (!planted) {
      planted = true
      winner.merge(Seq((65L, "W65", "U")).toDF("k", "payload", "status"))
    }
    // NO retry wrapper: the bare merge must succeed via the rebase path
    // (a replay would surface as ConcurrentModificationException here)
    val stats = t.merge(Seq((5L, "X5", "U")).toDF("k", "payload", "status"))
    stats.version shouldBe 2
    t.latestVersion shouldBe 2
    rows(t.read().filter(col("k").isin(5L, 65L))
      .select("k", "payload").orderBy("k")) shouldBe
      Seq(Seq(5L, "X5"), Seq(65L, "W65"))
    t.read().count() shouldBe 90L
    // no replay also means NO ORPHANED data files: every file on disk is
    // referenced by some retained version (a replay would abandon the
    // first attempt's rewrites)
    val referenced = (0 to 2)
      .flatMap(v => t.manifest(v).files.map(f =>
        new Path(f.path).getName)).toSet
    val onDisk = {
      val dir = java.nio.file.Paths.get(t.root, "data")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    onDisk shouldBe referenced
  }

  test("fast path declines on overlap, probe collisions, and anchors") {
    // same-file overlap: both writers touch the 1-30 file
    val t = mkTable()
    val w = new graft.sources.LakeTable(spark, t.root)
    var p1 = false
    t.onBeforeCommit = () => if (!p1) {
      p1 = true
      w.merge(Seq((7L, "W7", "U")).toDF("k", "payload", "status"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq((5L, "X5", "U")).toDF("k", "payload", "status"))
    }
    t.onBeforeCommit = () => ()
    // the replay loop still converges to both results
    t.withRetry(t.merge(Seq((5L, "X5", "U")).toDF("k", "payload", "status")))
    rows(t.read().filter(col("k").isin(5L, 7L))
      .select("k", "payload").orderBy("k")) shouldBe
      Seq(Seq(5L, "X5"), Seq(7L, "W7"))
    // DELETE of a key that hits nothing must still replay when a winner
    // concurrently INSERTS that key (serialize-after semantics) — on a
    // partitioned table too, whose probe computes the envelope's key
    // bounds only once the race is lost
    Seq(Nil, Seq("status")).foreach { partitionBy =>
      withClue(s"partitionBy=$partitionBy: ") {
        val t2 = mkTable(partitionBy)
        val w2 = new graft.sources.LakeTable(spark, t2.root)
        var p2 = false
        t2.onBeforeCommit = () => if (!p2) {
          p2 = true
          w2.merge(Seq((100L, "W100", "U")).toDF("k", "payload", "status"))
        }
        intercept[java.util.ConcurrentModificationException] {
          t2.delete(Seq(100L).toDF("k"))
        }
      }
    }
    // an interleaved ANCHOR commit (compact) always replays
    val t3 = mkTable()
    val w3 = new graft.sources.LakeTable(spark, t3.root)
    var p3 = false
    t3.onBeforeCommit = () => if (!p3) { p3 = true; w3.compact(1) }
    intercept[java.util.ConcurrentModificationException] {
      t3.merge(Seq((5L, "X5", "U")).toDF("k", "payload", "status"))
    }
    // but a range-disjoint DELETE rebases fine
    val t4 = mkTable()
    val w4 = new graft.sources.LakeTable(spark, t4.root)
    var p4 = false
    t4.onBeforeCommit = () => if (!p4) {
      p4 = true
      w4.merge(Seq((65L, "W65", "U")).toDF("k", "payload", "status"))
    }
    t4.delete(Seq(5L).toDF("k")).version shouldBe 2
    t4.read().count() shouldBe 89L
    rows(t4.read().filter(col("k") === 65L).select("payload")) shouldBe
      Seq(Seq("W65"))
  }
  test("type widening: INT→LONG and FLOAT→DOUBLE evolve through MERGE") {
    import org.apache.spark.sql.types._
    val df = (1L to 90L).map(k => (k, k.toInt, k.toFloat / 2, s"v$k"))
      .toDF("k", "i", "f", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    t.read().schema("i").dataType shouldBe IntegerType
    t.read().schema("f").dataType shouldBe FloatType
    // the batch carries LONG i and DOUBLE f — values outside the narrow
    // types, so a silent downcast would corrupt
    val up = Seq((5L, 5000000000L, 0.1d, "UP5"), (95L, -6000000000L, 0.2d, "IN95"))
      .toDF("k", "i", "f", "payload")
    t.merge(up)
    val r = t.read()
    r.schema("i").dataType shouldBe LongType
    r.schema("f").dataType shouldBe DoubleType
    // updated rows carry the wide values; carried rows read PROMOTED in
    // place (their files still hold int32/float physically)
    rows(r.filter(col("k").isin(5L, 95L)).select("k", "i", "f").orderBy("k")) shouldBe
      Seq(Seq(5L, 5000000000L, 0.1d), Seq(95L, -6000000000L, 0.2d))
    rows(r.filter(col("k") === 7L).select("i", "f")) shouldBe
      Seq(Seq(7L, 3.5d))
    r.agg(sum("i")).collect()(0).getLong(0) shouldBe
      ((1L to 90L).sum - 5L + 5000000000L - 6000000000L)
    // time travel keeps the OLD shape at the old version
    t.snapshot(0).schema("i").dataType shouldBe IntegerType
    t.snapshot(0).schema("f").dataType shouldBe FloatType
    t.snapshot(0).count() shouldBe 90L
    // the widened schema persists through later carry-verbs and compact
    t.delete(Seq(9L).toDF("k"))
    t.read().schema("i").dataType shouldBe LongType
    t.compact(2)
    t.read().schema("i").dataType shouldBe LongType
    t.read().count() shouldBe 90L // 91 - 1 deleted
    // the change feed speaks the widened shape across the interval
    val feed = t.changes(0, 1)
    feed.schema("i").dataType shouldBe LongType
    feed.filter(col("_change_type") === "insert").count() shouldBe 1L
    // an INCOMPATIBLE change refuses loudly
    val bad = Seq((6L, "nope", 1.0d, "BAD")).toDF("k", "i", "f", "payload")
    val e = intercept[IllegalArgumentException] { t.merge(bad) }
    e.getMessage should include("widening")
  }

  test("type widening through mergeInto; UPDATE casts RHS to column type") {
    import org.apache.spark.sql.types._
    val df = (1L to 30L).map(k => (k, k.toInt, s"v$k")).toDF("k", "i", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2)
    t.mergeInto(Seq((5L, 7000000000L, "WIDE")).toDF("k", "i", "payload"))
    t.read().schema("i").dataType shouldBe LongType
    rows(t.read().filter(col("k") === 5L).select("i")) shouldBe
      Seq(Seq(7000000000L))
    rows(t.read().filter(col("k") === 6L).select("i")) shouldBe Seq(Seq(6L))
    // UPDATE's RHS casts to the recorded column type (here: the already-
    // widened LONG), and a fractional literal truncates like SQL UPDATE
    t.update(col("k") === 6L, Seq("i" -> lit(2.9d)))
    rows(t.read().filter(col("k") === 6L).select("i")) shouldBe Seq(Seq(2L))
    t.read().schema("i").dataType shouldBe LongType
  }
  test("fast path declines when the winner evolved the schema") {
    // a winner WIDENING a column must not have its evolution reverted by
    // the loser's rebased commit (whose recorded schema predates it)
    import org.apache.spark.sql.types._
    val df = (1L to 90L).map(k => (k, k.toInt, s"v$k")).toDF("k", "i", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    val w = new graft.sources.LakeTable(spark, t.root)
    var planted = false
    t.onBeforeCommit = () => if (!planted) {
      planted = true
      // range-disjoint (key 65) but WIDENS i to LONG
      w.merge(Seq((65L, 9000000000L, "W65")).toDF("k", "i", "payload"))
    }
    intercept[java.util.ConcurrentModificationException] {
      t.merge(Seq((5L, 5, "X5")).toDF("k", "i", "payload"))
    }
    t.onBeforeCommit = () => ()
    // replay converges with the widened schema intact
    t.withRetry(t.merge(Seq((5L, 5, "X5")).toDF("k", "i", "payload")))
    t.read().schema("i").dataType shouldBe LongType
    rows(t.read().filter(col("k") === 65L).select("i")) shouldBe
      Seq(Seq(9000000000L))
    rows(t.read().filter(col("k") === 5L).select("i")) shouldBe Seq(Seq(5L))
  }
  test("BINPACK: only small files rewrite; the right-sized bulk carries") {
    val t = mkTable() // 3 files x 30 rows
    // five single-row appends — the streaming-ingest small-file shape
    (1 to 5).foreach { i =>
      t.insertAll(Seq((1000L + i, s"s$i", "S")).toDF("k", "payload", "status"))
    }
    t.manifest(t.latestVersion).files should have size 8
    val bigPaths = t.manifest(0).files.map(_.path).toSet
    val stats = t.compactBinPack(minRows = 10, targetRows = 10)
    stats.rewrittenFiles shouldBe 5
    stats.keptFiles shouldBe 3
    val m = t.manifest(t.latestVersion)
    // the three 30-row files carried BY REFERENCE
    bigPaths.subsetOf(m.files.map(_.path).toSet) shouldBe true
    m.files should have size 4 // 3 big + 1 packed
    t.read().count() shouldBe 95L
    // NOT an anchor: the commit is an ordinary delta
    t.manifest(t.latestVersion).operation shouldBe "optimize-binpack"
    // idempotent: nothing small remains -> no-op, no commit
    val v = t.latestVersion
    t.compactBinPack(minRows = 10).version shouldBe v
    // tombstoned rows in packed files fold physically; entries stand
    val t2 = mkTable()
    (1 to 3).foreach { i =>
      t2.insertAll(Seq((1000L + i, s"s$i", "S")).toDF("k", "payload", "status"))
    }
    t2.deleteDeferred(Seq(1001L, 5L).toDF("k"))
    t2.compactBinPack(minRows = 10)
    t2.read().count() shouldBe 91L // 90 + 3 - 2 dead
    t2.read().filter(col("k") === 1001L).count() shouldBe 0L
    t2.read().filter(col("k") === 5L).count() shouldBe 0L // big-file key still dead via tombstone
  }
  test("column mapping: rename and drop are metadata-only; snapshots keep shape") {
    val t = mkTable() // k, payload, status — 3 files, keys 1..90
    val v0Files = t.manifest(0).files.map(_.path).toSet
    // RENAME payload -> note: zero files move, reads speak the new name
    val s1 = t.renameColumn("payload", "note")
    s1.version shouldBe 1
    t.manifest(1).files.map(_.path).toSet shouldBe v0Files
    t.read().columns.toSeq shouldBe Seq("k", "note", "status")
    rows(t.read().filter(col("k") === 5L).select("note")) shouldBe
      Seq(Seq("val5"))
    // old snapshots keep their shape (per-version map)
    t.snapshot(0).columns.toSeq shouldBe Seq("k", "payload", "status")
    // verbs work through the LOGICAL name: merge, update, deleteWhere
    t.merge(Seq((5L, "N5", "B"), (200L, "N200", "B"))
      .toDF("k", "note", "status"))
    rows(t.read().filter(col("k").isin(5L, 200L))
      .select("k", "note").orderBy("k")) shouldBe
      Seq(Seq(5L, "N5"), Seq(200L, "N200"))
    t.update(col("k") === 6L, Seq("note" -> lit("U6")))
    rows(t.read().filter(col("k") === 6L).select("note")) shouldBe
      Seq(Seq("U6"))
    t.deleteWhere(col("note") === "U6")
    t.read().filter(col("k") === 6L).count() shouldBe 0L
    // conditional merge with clause predicates over the NEW name
    t.mergeInto(Seq((7L, "DEAD", "X")).toDF("k", "note", "status"),
      whenMatchedDeleteIf = Some(col("source.note") === "DEAD"),
      whenMatchedUpdateIf = Some(lit(false)),
      whenNotMatchedInsert = false)
    t.read().filter(col("k") === 7L).count() shouldBe 0L
    // the GHOST physical name is reserved: a merge adding a column named
    // 'payload' (the storage name of 'note') refuses loudly
    intercept[IllegalArgumentException] {
      t.merge(Seq((8L, "x", "A", "ghost"))
        .toDF("k", "note", "status", "payload"))
    }.getMessage should include("reserved")
    // rename BACK to the physical name drops the mapping entirely
    val t2 = mkTable()
    t2.renameColumn("payload", "tmp")
    t2.renameColumn("tmp", "payload")
    t2.manifest(t2.latestVersion).columnMap shouldBe empty
    rows(t2.read().filter(col("k") === 1L).select("payload")) shouldBe
      Seq(Seq("val1"))
    // DROP status: metadata-only; old snapshot still reads it
    val t3 = mkTable()
    val s3 = t3.dropColumn("status")
    t3.manifest(s3.version).files.map(_.path).toSet shouldBe
      t3.manifest(0).files.map(_.path).toSet
    t3.read().columns.toSeq shouldBe Seq("k", "payload")
    t3.snapshot(0).columns.toSeq shouldBe Seq("k", "payload", "status")
    // post-drop rewrites land files WITHOUT the dropped column, and the
    // mixed table still reads consistently
    t3.merge(Seq((1L, "re1")).toDF("k", "payload"))
    t3.read().count() shouldBe 90L
    rows(t3.read().filter(col("k") === 1L)) shouldBe Seq(Seq(1L, "re1"))
    // refusals: key/partition drops, rename collisions
    intercept[IllegalArgumentException] { t3.dropColumn("k") }
      .getMessage should include("merge key")
    intercept[IllegalArgumentException] { t3.renameColumn("payload", "k") }
      .getMessage should include("already exists")
    intercept[IllegalArgumentException] { t3.renameColumn("nope", "x") }
      .getMessage should include("no column")
    // the format reader serves column-mapped tables through the
    // projected relation: logical names, API-read row parity
    val fmt = spark.read.format("graft-lake").load(t.root)
    fmt.columns.toSeq shouldBe t.read().columns.toSeq
    fmt.count() shouldBe t.read().count()
    // rename survives vacuum + time travel boundary
    t.vacuum(2)
    t.read().columns should contain("note")
  }

  test("column mapping: pruning and change feed follow the rename") {
    val t = mkTable()
    t.renameColumn("k", "id") // rename the KEY itself
    // key-range reads through the logical name still prune: the filter
    // pushes through the aliasing Project onto the physical scan
    val q = t.read().filter(col("id") <= 30L)
    q.count() shouldBe 30L
    q.select(input_file_name()).distinct().count() should be < 3L
    // readRange still works (stat units unchanged)
    t.readRange(1L, 10L).count() shouldBe 10L
    // the change feed speaks the TO-endpoint's logical names
    t.merge(Seq((5L, "X5", "B")).toDF("id", "payload", "status"))
    val feed = t.changes(1, t.latestVersion)
    feed.columns should contain("id")
    feed.filter(col("_change_type") === "update_postimage")
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(5L)
    // epoch-tagged streaming merges work through the rename too
    t.mergeEpoch(Seq((6L, "E6", "B")).toDF("id", "payload", "status"),
      0L, "cmap") should not be None
    rows(t.read().filter(col("id") === 6L).select("payload")) shouldBe
      Seq(Seq("E6"))
  }

  test("dropped-name reservation: a re-added column NEVER resurrects old bytes") {
    val t = mkTable()
    t.dropColumn("status") // physical 'status' bytes stay in all 3 files
    t.manifest(t.latestVersion).droppedCols shouldBe Seq("status")
    // a merge whose source RE-ADDS 'status' widens the schema — but the
    // column maps to FRESH physical storage, so the 89 carried rows read
    // NULL, never their stale pre-drop 'A' values (silent resurrection)
    t.merge(Seq((5L, "re5", "NEWSTATUS")).toDF("k", "payload", "status"))
    val m = t.manifest(t.latestVersion)
    m.columnMap.get("status") shouldBe Some("status_2")
    rows(t.read().filter(col("k") === 5L)) shouldBe
      Seq(Seq(5L, "re5", "NEWSTATUS"))
    t.read().filter(col("status").isNotNull).count() shouldBe 1L
    // the reservation persists: drop the re-added column too, re-add
    // again -> a THIRD physical name, still no resurrection of either
    t.dropColumn("status")
    t.manifest(t.latestVersion).droppedCols.toSet shouldBe
      Set("status", "status_2")
    t.addColumn("status", "string")
    // cold parse: the reservation must survive the JSON round-trip, not
    // just the in-memory delta cache
    Lake.clearMetadataCaches()
    t.manifest(t.latestVersion).droppedCols.toSet shouldBe
      Set("status", "status_2")
    t.manifest(t.latestVersion).columnMap.get("status") shouldBe
      Some("status_3")
    t.read().filter(col("status").isNotNull).count() shouldBe 0L
    // time travel keeps each era's shape and values
    t.snapshot(0).filter(col("status") === "A").count() shouldBe 90L
    // even a frame column named EXACTLY like reserved physical storage
    // routes to fresh storage — there is no spelling that reaches the
    // stale bytes (the source still carries every table column: a merge
    // may widen, never narrow)
    t.merge(Seq((6L, "x6", Option.empty[String], "S2"))
      .toDF("k", "payload", "status", "status_2"))
    t.manifest(t.latestVersion).columnMap.get("status_2") shouldBe
      Some("status_2_2")
    rows(t.read().filter(col("k") === 6L).select("status_2")) shouldBe
      Seq(Seq("S2"))
    t.read().filter(col("status_2").isNotNull).count() shouldBe 1L
  }

  test("re-add plus a sibling named like the fresh physical: disjoint storage") {
    // one widening merge that re-adds dropped 'status' AND introduces a
    // brand-new column literally named 'status_2': the re-add must NOT
    // pick physical 'status_2' (the sibling's storage) — both columns
    // need disjoint physical names or the write lands duplicate columns
    val t = mkTable()
    t.dropColumn("status")
    t.merge(Seq((5L, "re5", "S", "SIB"))
      .toDF("k", "payload", "status", "status_2"))
    val m = t.manifest(t.latestVersion)
    val physStatus = m.columnMap.getOrElse("status", "status")
    val physSib = m.columnMap.getOrElse("status_2", "status_2")
    physStatus should not be "status" // reserved by the drop
    physStatus should not be physSib // disjoint from the sibling
    rows(t.read().filter(col("k") === 5L)
      .select("status", "status_2")) shouldBe Seq(Seq("S", "SIB"))
    // carried rows resurrect nothing into either column
    t.read().filter(col("status").isNotNull).count() shouldBe 1L
    t.read().filter(col("status_2").isNotNull).count() shouldBe 1L
  }

  test("ADD COLUMN: metadata-only; old files read null; merges fill it") {
    val t = mkTable()
    val v0Paths = t.manifest(0).files.map(_.path).toSet
    t.addColumn("score", "double")
    val m = t.manifest(t.latestVersion)
    m.files.map(_.path).toSet shouldBe v0Paths // zero data movement
    t.read().columns.toSeq shouldBe Seq("k", "payload", "status", "score")
    t.read().filter(col("score").isNotNull).count() shouldBe 0L
    // older snapshots keep their shape (per-version schema)
    t.snapshot(0).columns.toSeq shouldBe Seq("k", "payload", "status")
    // a merge can now fill it; untouched rows stay null
    t.merge(Seq((7L, "m7", "U", 0.5)).toDF("k", "payload", "status", "score"))
    rows(t.read().filter(col("k") === 7L).select("score")) shouldBe Seq(Seq(0.5))
    t.read().filter(col("score").isNotNull).count() shouldBe 1L
    // refusals: duplicate name, bad identifier
    intercept[IllegalArgumentException] { t.addColumn("payload", "string") }
      .getMessage should include("already exists")
    intercept[IllegalArgumentException] { t.addColumn("a b", "string") }
      .getMessage should include("invalid")
  }

  test("ADD COLUMN on a partitioned table keeps partition columns last") {
    import spark.implicits._
    val df = (1L to 30L).map(k => (k, s"v$k", k % 3)).toDF("k", "payload", "p")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2,
      partitionBy = Seq("p"))
    t.addColumn("extra", "int")
    // stored order: data columns, new column, THEN partition columns —
    // the recovered-partition-last read contract survives the DDL
    t.read().columns.toSeq shouldBe Seq("k", "payload", "extra", "p")
    t.merge(Seq((2L, "m2", 7, 2L)).toDF("k", "payload", "extra", "p"))
    rows(t.read().filter(col("k") === 2L)) shouldBe Seq(Seq(2L, "m2", 7, 2L))
  }

  test("ALTER COLUMN TYPE: explicit metadata-only widening; narrowing refuses") {
    import spark.implicits._
    val df = (1L to 30L).map(k => (k, k.toInt, k.toFloat)).toDF("k", "n", "x")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2)
    val v0Paths = t.manifest(0).files.map(_.path).toSet
    t.alterColumnType("n", "bigint")
    t.alterColumnType("x", "double")
    val m = t.manifest(t.latestVersion)
    m.files.map(_.path).toSet shouldBe v0Paths // zero data movement
    // old files read back promoted in place
    t.read().schema("n").dataType.typeName shouldBe "long"
    t.read().schema("x").dataType.typeName shouldBe "double"
    t.read().agg(sum(col("n"))).collect()(0).getLong(0) shouldBe 465L
    // older snapshots keep their type
    t.snapshot(0).schema("n").dataType.typeName shouldBe "integer"
    // a merge can now land long values the old type couldn't hold
    t.merge(Seq((5L, 5000000000L, 1.5d)).toDF("k", "n", "x"))
    rows(t.read().filter(col("k") === 5L).select("n")) shouldBe
      Seq(Seq(5000000000L))
    // same-type alter is a no-op; narrowing and cross-type refuse
    val v = t.latestVersion
    t.alterColumnType("x", "double")
    t.latestVersion shouldBe v
    intercept[IllegalArgumentException] { t.alterColumnType("n", "int") }
      .getMessage should include("WIDEN")
    intercept[IllegalArgumentException] { t.alterColumnType("n", "string") }
      .getMessage should include("WIDEN")
    intercept[IllegalArgumentException] { t.alterColumnType("nope", "bigint") }
      .getMessage should include("no column")
    // works through a rename (logical name resolves via the column map)
    t.renameColumn("n", "wide")
    t.alterColumnType("wide", "bigint") // no-op, but resolves
    // widening a PARTITION column keeps directory-value recovery intact
    // (hive dir strings parse per the read schema's type)
    val pdf = (1L to 12L).map(k => (k, (k % 3).toInt)).toDF("k", "p")
    val tp = Lake.create(spark, Lake.freshRoot(), pdf, "k", 2,
      partitionBy = Seq("p"))
    tp.alterColumnType("p", "bigint")
    tp.read().schema("p").dataType.typeName shouldBe "long"
    tp.read().filter(col("p") === 1L).count() shouldBe 4L
    tp.merge(Seq((100L, 1L)).toDF("k", "p"))
    tp.read().count() shouldBe 13L
    rows(tp.read().filter(col("k") === 100L)) shouldBe Seq(Seq(100L, 1L))
  }

  test("format reader serves MOR and column-mapped snapshots (projected relation)") {
    val t = mkTable()
    // outstanding deferred delete: the format read applies the anti-join
    t.deleteDeferred(Seq(5L, 6L).toDF("k"))
    val mor = spark.read.format("graft-lake").load(t.root)
    mor.count() shouldBe 88L
    mor.filter(col("k") === 5L).count() shouldBe 0L
    // rename on top: logical names + filters still correct
    t.renameColumn("payload", "note")
    val fmt = spark.read.format("graft-lake").load(t.root)
    fmt.columns.toSeq shouldBe Seq("k", "note", "status")
    fmt.filter(col("note") === "val7").count() shouldBe 1L
    fmt.filter(col("k") <= 30L).count() shouldBe 28L
    // column pruning + filters compose (requiredColumns path)
    rows(fmt.filter(col("k") === 7L).select("note")) shouldBe Seq(Seq("val7"))
    // versionAsOf through the projected relation keeps the old shape
    spark.read.format("graft-lake").option("versionAsOf", 0)
      .load(t.root).count() shouldBe 90L
  }

  test("failed writes leave no scratch; vacuum sweeps orphaned scratch dirs") {
    val t = mkTable()
    t.addConstraint("pay_ok", "payload != 'BAD'")
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def scratches() = fs.listStatus(new Path(t.root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_scratch-"))
    // a constraint-aborted merge is the EXPECTED failing write: its
    // scratch dir must be gone the moment the verb throws
    intercept[Exception] {
      t.merge(Seq((5L, "BAD", "X")).toDF("k", "payload", "status"))
    }
    scratches() shouldBe empty
    // an orphan from a hard-killed writer (simulated) is swept by vacuum
    // once older than the TTL (negative here: everything qualifies)
    fs.mkdirs(new Path(t.root, "_scratch-orphan"))
    spark.conf.set("spark.graft.lake.scratchTtlMs", "-60000")
    try {
      t.merge(Seq((5L, "ok5", "U")).toDF("k", "payload", "status"))
      t.vacuum(1)
      scratches() shouldBe empty
    } finally spark.conf.unset("spark.graft.lake.scratchTtlMs")
    t.read().count() shouldBe 90L
  }

  test("deleteDeferredWhere: predicate MOR delete — zero rewrites, stacks, folds") {
    val t = mkTable()
    val v0Paths = t.manifest(0).files.map(_.path).toSet
    // a non-key predicate delete defers: ONE tombstone file, every data
    // file carries by reference
    val s = t.deleteDeferredWhere(col("k") <= 10L && col("status") === "A")
    s.rewrittenFiles shouldBe 0
    val m1 = t.manifest(s.version)
    m1.files.map(_.path).toSet shouldBe v0Paths
    m1.tombstones should have size 1
    t.read().count() shouldBe 80L
    t.read().filter(col("k") <= 10L).count() shouldBe 0L
    // the scan feeding the key extraction is column-pruned + effective:
    // a second predicate over the REMAINING rows stacks its own keys
    t.deleteDeferredWhere(col("k") % 30L === 0L)
    t.read().count() shouldBe 77L // 80 - keys {30, 60, 90}
    // a no-match predicate is a no-op: nothing commits
    val v = t.latestVersion
    t.deleteDeferredWhere(col("payload") === "nope")
    t.latestVersion shouldBe v
    // merge revives through the predicate tombstones, compact folds
    t.merge(Seq((5L, "back5", "R")).toDF("k", "payload", "status"))
    rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "back5", "R"))
    t.compact(3)
    t.manifest(t.latestVersion).tombstones shouldBe empty
    t.read().count() shouldBe 78L
    // SQL surface parity is pinned in LakeSqlDmlSpec (DELETE DEFERRED)
  }

  test("target-size sizing: a 10x-target append lands ~10 files; merges scale too") {
    spark.conf.set("spark.graft.lake.targetFileRows", "100")
    try {
      val t = mkTable() // 90 rows, 3 files (explicit create count)
      // a 1000-row no-hit append must land ceil(1000/100) = 10 files,
      // NOT one monolith (the old placeholder sized by range hits = 0)
      val s1 = t.insertAll(
        (1001L to 2000L).map(k => (k, s"a$k", "I")).toDF("k", "payload", "status"))
      s1.addedFiles shouldBe 10
      t.read().count() shouldBe 1090L
      // a merge whose rewrite set outgrows the target adds files beyond
      // its pre-rewrite granularity (legacy floor = hit count)
      val s2 = t.merge(
        (1L to 90L).map(k => (k, s"u$k", "U")).toDF("k", "payload", "status")
          .unionByName((3001L to 3400L).map(k => (k, s"n$k", "N"))
            .toDF("k", "payload", "status")))
      // est rows = 90 (hit) + 490 (updates) -> >= 5 files (floor 3 hit files)
      s2.addedFiles should be >= 5
      t.read().count() shouldBe 1490L
      // tiny writes keep landing as single files (policy never splinters)
      t.insertAll(Seq((9001L, "x", "T")).toDF("k", "payload", "status"))
        .addedFiles shouldBe 1
    } finally spark.conf.unset("spark.graft.lake.targetFileRows")
  }
  test("BINPACK SPLIT: an oversized file splits to ~target pieces, bulk carries") {
    val t = mkTable() // 3 x 30-row files
    // one oversized file: compact everything into a single 90-row file
    t.compact(1)
    t.manifest(t.latestVersion).files should have size 1
    // append two right-sized files that must CARRY by reference
    t.insertAll((200L to 219L).map(k => (k, s"a$k", "I"))
      .toDF("k", "payload", "status"))
    val carriedPaths = t.manifest(t.latestVersion).files
      .filter(_.rows == 20L).map(_.path).toSet
    // split anything above 25 rows into ~10-row pieces; nothing is small
    val stats = t.compactBinPack(minRows = 5, targetRows = 10, maxRows = 25)
    stats.rewrittenFiles shouldBe 1
    stats.addedFiles shouldBe 9 // ceil(90 / 10)
    val m = t.manifest(t.latestVersion)
    carriedPaths.subsetOf(m.files.map(_.path).toSet) shouldBe true
    m.files.count(_.rows > 25L) shouldBe 0
    t.read().count() shouldBe 110L
    t.read().agg(min("k"), max("k")).collect()(0).toSeq shouldBe Seq(1L, 219L)
    // idempotent: everything right-sized -> no-op, no commit
    val v = t.latestVersion
    t.compactBinPack(minRows = 5, targetRows = 10, maxRows = 25).version shouldBe v
  }

  private def mkAppendLog() = {
    val df = (1L to 60L).map(i => (i, s"msg$i", i % 7)).toDF("id", "msg", "shard")
    Lake.createAppendLog(spark, Lake.freshRoot(), df, 3,
      statsCols = Seq("shard"))
  }

  test("append-log: blind appends admit duplicates; keyed verbs refuse") {
    val t = mkAppendLog()
    t.manifest(0).keyCol shouldBe ""
    t.read().count() shouldBe 60L
    // a re-append of EXISTING rows lands without any PK probe
    t.insertAll((1L to 10L).map(i => (i, s"msg$i", i % 7))
      .toDF("id", "msg", "shard"))
    t.read().count() shouldBe 70L
    t.read().filter(col("id") === 5L).count() shouldBe 2L // duplicate lives
    // refusal matrix: every key-addressed verb fails loudly and
    // mentions the append-log nature
    val keyed = Seq[(String, () => Any)](
      "merge" -> (() => t.merge(Seq((1L, "x", 0L)).toDF("id", "msg", "shard"))),
      "mergeInto" -> (() => t.mergeInto(
        Seq((1L, "x", 0L)).toDF("id", "msg", "shard"))),
      "delete" -> (() => t.delete(Seq(1L).toDF("id"))),
      "deleteDeferred" -> (() => t.deleteDeferred(Seq(1L).toDF("id"))),
      "deleteDeferredWhere" -> (() =>
        t.deleteDeferredWhere(col("id") === 1L)),
      "mergeEpoch" -> (() => t.mergeEpoch(
        Seq((1L, "x", 0L)).toDF("id", "msg", "shard"), 0L)),
      "replaceAllEpoch" -> (() => t.replaceAllEpoch(
        Seq((1L, "x", 0L)).toDF("id", "msg", "shard"), 0L)),
      "readRange" -> (() => t.readRange(1L, 5L)))
    keyed.foreach { case (name, f) =>
      withClue(s"$name: ") {
        val e = intercept[IllegalArgumentException](f())
        e.getMessage should include("append-log")
      }
    }
    // and create() itself refuses an empty key
    intercept[IllegalArgumentException] {
      Lake.create(spark, Lake.freshRoot(),
        Seq((1L, "x")).toDF("id", "msg"), "", 1)
    }.getMessage should include("createAppendLog")
  }

  test("append-log: predicate COW delete rewrites only hit files") {
    val t = mkAppendLog() // shard-clustered: 3 files over shard 0..6
    val before = t.manifest(t.latestVersion).files.map(_.path)
    // shard = 6 lives in the last shard-range file only
    val s = t.deleteWhere(col("shard") === 6L)
    s.rewrittenFiles shouldBe 1
    s.keptFiles shouldBe 2
    val after = t.manifest(t.latestVersion).files.map(_.path)
    after.intersect(before) should have size 2 // untouched files carried
    t.read().filter(col("shard") === 6L).count() shouldBe 0L
    t.read().count() shouldBe 60L - 8L // ids 6,13,...,55: 8 rows
    // a predicate hitting nothing commits nothing
    val v = t.latestVersion
    t.deleteWhere(col("shard") === 99L).version shouldBe v
    // time travel still serves the pre-delete snapshot
    t.snapshot(0).count() shouldBe 60L
  }

  test("append-log: predicate COW update; compaction and layout verbs work") {
    val t = mkAppendLog()
    val s = t.update(col("shard") === 3L, Seq("msg" -> lit("UPD")))
    s.rewrittenFiles should be >= 1
    t.read().filter(col("msg") === "UPD").count() shouldBe
      t.read().filter(col("shard") === 3L).count()
    // full compact re-clusters on the leading stats column
    t.compact(2)
    t.read().count() shouldBe 60L
    // binpack and explicit-column layout verbs run too
    t.insertAll(Seq((100L, "tail", 1L)).toDF("id", "msg", "shard"))
    t.compactBinPack(minRows = 5)
    t.compact(2, Some(("sort", Seq("id"))))
    t.read().count() shouldBe 61L
    // shard stats still prune: detail shows stats_cols, files carry bounds
    val m = t.manifest(t.latestVersion)
    m.files.foreach(f => f.cols.keySet should contain("shard"))
  }

  test("append-log: racing appends splice via rebase, no replay needed") {
    val t = mkAppendLog()
    var raced = false
    t.onBeforeCommit = () => {
      if (!raced) {
        raced = true
        // a REAL concurrent append through a second handle wins version 1
        new graft.sources.LakeTable(spark, t.root)
          .insertAll(Seq((200L, "racer", 0L)).toDF("id", "msg", "shard"))
      }
    }
    try {
      // plain insertAll (no retry wrapper): the lost race must REBASE —
      // a keyless append conflicts with nothing — not throw
      val s = t.insertAll(Seq((300L, "ours", 1L)).toDF("id", "msg", "shard"))
      s.version shouldBe 2
    } finally t.onBeforeCommit = () => ()
    t.read().count() shouldBe 62L
    t.read().filter(col("id") isin (200L, 300L)).count() shouldBe 2L
  }

  test("append-log: bloom index and scoped ANALYZE work without a key") {
    val t = mkAppendLog() // ids 1..60, shard-clustered files
    t.analyzeBloom(Seq("id"))
    // point lookups prune via the sidecars exactly as on keyed tables
    val q = t.read().filter(col("id") === 37L)
    q.select(input_file_name()).distinct().count() shouldBe 1L
    q.count() shouldBe 1L
    t.read().filter(col("id") === 5000L).count() shouldBe 0L
    // appends maintain coverage for their new files
    t.insertAll(Seq((500L, "tail", 2L)).toDF("id", "msg", "shard"))
    val n = t.manifest(t.latestVersion).files.size
    t.detailDf().collect()(0).getAs[String]("bloom_coverage") should
      include(s"id:$n/$n")
    // scoped ANALYZE selects by file-identity scan on keyless tables
    t.analyzeColumns(Seq("id"), where = Some(col("shard") === 6L))
    val covered = t.manifest(t.latestVersion).files
      .filter(_.cols.keySet.contains("id"))
    covered should have size 1 // only the shard-6 range file
    t.read().count() shouldBe 61L
  }

  test("append-log: change feed streams appends, content-diffs rewrites") {
    val t = mkAppendLog() // v0
    t.insertAll(Seq((100L, "a", 1L), (100L, "a", 1L))
      .toDF("id", "msg", "shard")) // v1: duplicate append
    t.deleteWhere(col("shard") === 2L) // v2: COW rewrite
    t.compact(1) // v3: layout only — rows identical
    val v1 = t.changes(0, 1)
    v1.filter(col("_change_type") === "insert").count() shouldBe 2L
    v1.count() shouldBe 2L
    val v2 = t.changes(1, 2)
    v2.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 60L).filter(_ % 7 == 2).toArray
    v2.filter(col("_change_type") === "insert").count() shouldBe 0L
    // byte-identical rewrite: the multiset diff cancels to nothing
    t.changes(2, 3).count() shouldBe 0L
    // and a multi-copy delta nets to the occurrence-count change
    t.deleteWhere(col("id") === 100L) // removes BOTH copies
    t.changes(3, 4).filter(col("_change_type") === "delete")
      .count() shouldBe 2L
  }

  test("STRING merge keys: full lifecycle on the order-embedding bounds") {
    // document-id-shaped keys: 'doc-0001'..'doc-0090', three files
    def key(k: Long) = f"doc-$k%04d"
    val df = (1L to 90L).map(k => (key(k), s"val$k", "A"))
      .toDF("k", "payload", "status")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    t.read().count() shouldBe 90L
    val m0 = t.manifest(0)
    // the embedding bounds are disjoint across the range-clustered files
    val ranges = m0.files.map(f => (f.minKey, f.maxKey)).sortBy(_._1)
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      lo should be >= hi } // 8-byte-prefix ties allow equality, never inversion
    // the key auto-joined the truncated-string stats (exact pruning path)
    m0.files.foreach(f => f.scols.keySet should contain("k"))
    // ...and the commit stamped the protocol feature
    Lake.fromJson(readManifest(t, 0))
      .requiredFeatures should contain("string-keys")
    // a LONG-keyed table must NOT carry it
    Lake.fromJson(readManifest(mkTable(), 0))
      .requiredFeatures should not contain "string-keys"
    // MERGE: update + insert, file-hit COW via embedding overlap
    t.merge(Seq((key(5), "NEW5", "U"), (key(42), "NEW42", "U"),
      ("doc-9999", "INS", "I")).toDF("k", "payload", "status"))
    t.read().count() shouldBe 91L
    t.read().filter(col("k") === key(5)).select("payload")
      .collect()(0).getString(0) shouldBe "NEW5"
    // time travel: the pre-merge snapshot is intact
    t.snapshot(0).filter(col("k") === key(5)).select("payload")
      .collect()(0).getString(0) shouldBe "val5"
    // INSERT fast path: fresh keys append; an existing key refuses
    t.insertAll(Seq(("doc-9998", "APP", "I")).toDF("k", "payload", "status"))
    t.read().count() shouldBe 92L
    intercept[Exception] {
      t.insertAll(Seq((key(7), "DUP", "X")).toDF("k", "payload", "status"))
    }
    // deferred (MOR) delete: tombstone keyed by string, zero rewrites
    val filesBefore = t.manifest(t.latestVersion).files.map(_.path).toSet
    t.deleteDeferred(Seq(Tuple1(key(10))).toDF("k"))
    val mAfter = t.manifest(t.latestVersion)
    mAfter.files.map(_.path).toSet shouldBe filesBefore // no data rewrite
    t.read().filter(col("k") === key(10)).count() shouldBe 0L
    t.read().count() shouldBe 91L
    // conditional merge THROUGH the tombstone revives the key
    t.mergeInto(Seq((key(10), "REVIVED", "R")).toDF("k", "payload", "status"))
    t.read().filter(col("k") === key(10)).select("payload")
      .collect()(0).getString(0) shouldBe "REVIVED"
    // change feed pairs pre/post images by the string key
    val feed = t.changes(0, t.latestVersion)
    feed.filter(col("_change_type") === "update_postimage" &&
      col("k") === key(5)).count() shouldBe 1L
    // compact folds everything; the relation is unchanged
    val preCompact = t.read().orderBy("k").collect().toSeq
    t.compact(2)
    t.read().orderBy("k").collect().toSeq shouldBe preCompact
    // UPDATE / DELETE WHERE on a non-key predicate
    t.update(col("k") === key(20), Seq("payload" -> lit("U20")))
    t.deleteWhere(col("status") === "I")
    t.read().filter(col("k") === key(20)).select("payload")
      .collect()(0).getString(0) shouldBe "U20"
    t.read().filter(col("k").isin("doc-9999", "doc-9998")).count() shouldBe 0L
  }

  test("STRING keys: degenerate bounds (shared 8-byte prefix) surface in key_bounds_health") {
    // URL-shaped keys: EVERY key starts 'https://' — one embedding value
    // table-wide, so key probes cannot discriminate files; the detail
    // surface must say so with the remediation guidance
    val urls = (1L to 40L).map(k => (s"https://example.com/p/$k", k))
      .toDF("u", "v")
    val t = Lake.create(spark, Lake.freshRoot(), urls, "u", 4)
    val h = t.detailDf().collect()(0).getAs[String]("key_bounds_health")
    h should include("DEGENERATE")
    h should include("hash-bucket")
    // a discriminating scheme (zero-padded numeric head) stays ok
    val ids = (1L to 40L).map(k => (f"$k%08d-doc", k)).toDF("u", "v")
    val t2 = Lake.create(spark, Lake.freshRoot(), ids, "u", 4)
    t2.detailDf().collect()(0)
      .getAs[String]("key_bounds_health") shouldBe "ok"
    // numeric keys never flag; keyless tables read n/a
    mkTable().detailDf().collect()(0)
      .getAs[String]("key_bounds_health") shouldBe "ok"
    val log = Lake.createAppendLog(spark, Lake.freshRoot(),
      (1L to 10L).map(k => (k, k * 2.0)).toDF("id", "x"), 2)
    log.detailDf().collect()(0)
      .getAs[String]("key_bounds_health") shouldBe "n/a (keyless)"
  }

  test("STRING keys: pre-feature coordinates refuse keyed verbs until compact migrates") {
    import org.apache.spark.sql.functions.col
    // A build predating `string-keys` could create a table keyed on
    // CASTABLE-numeric strings, with cast-to-long bounds. This build
    // probes with the order embedding — the coordinates don't compare,
    // so keyed verbs must REFUSE (a silent probe miss would duplicate
    // keys on merge) until a full compact re-stats every file. The
    // discriminator is the stamp: every commit THIS build writes on a
    // string-keyed table carries `string-keys`, so an unstamped latest
    // delta = pre-feature writer. Forge one.
    val t = Lake.create(spark, Lake.freshRoot(),
      (1L to 30L).map(k => (s"$k", s"v$k")).toDF("k", "payload"), "k", 2)
    val forged = graft.sources.Lake.fullDelta(t.manifest(0)).copy(
      version = 1, parentVersion = 0, operation = "old-build-merge",
      commitTs = System.currentTimeMillis(),
      requiredFeatures = Nil) // what a pre-feature build stamps: nothing
    val fs = new Path(t.root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(t.root, "_manifests/v00001.json"), false)
    out.write(Lake.toJson(forged).getBytes); out.close()
    val t2 = new graft.sources.LakeTable(spark, t.root)
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      e.getMessage should include("predates the string-keys feature")
      e.getMessage should include("compact")
    }
    refuses(t2.merge(Seq(("5", "NEW")).toDF("k", "payload")))
    refuses(t2.insertAll(Seq(("99x", "APP")).toDF("k", "payload")))
    refuses(t2.deleteDeferred(Seq(Tuple1("5")).toDF("k")))
    // reads never gate — no key-bound probe on the read path
    t2.read().count() shouldBe 30L
    // the migration: one full compact re-stats every file in the
    // embedding coordinate and stamps the feature; verbs then work
    t2.compact(2)
    t2.merge(Seq(("5", "NEW5")).toDF("k", "payload"))
    t2.read().filter(col("k") === "5").select("payload")
      .collect()(0).getString(0) shouldBe "NEW5"
    t2.read().count() shouldBe 30L // updated, never duplicated
  }

  test("STRING keys: the order embedding is monotone over adversarial values") {
    // adversarial strings: empty, prefixes, 8-byte ties, non-ASCII,
    // astral code points — UTF-8 byte order must imply embedding order
    // (non-strict), for EVERY pair, because every internal range probe
    // (merge hits, insert conflicts, tombstone overlap) rides it
    val vals = Seq("", "a", "ab", "abcdefgh", "abcdefgh0", "abcdefgh9",
      "abcdefghz", "Z", "z", "doc-0001", "doc-00010", "doc-0002",
      "éclair", "中文", "😀emoji", "~tilde",
      "0", "00", "000000000000000001", "", "ÿ")
    val df = vals.map(v => Tuple1(v)).toDF("s")
    val emb = df.select(col("s"), Lake.statLong(df, "s").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def byteCmp(a: String, b: String): Int = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    for (a <- vals; b <- vals if byteCmp(a, b) < 0)
      withClue(s"emb('$a') vs emb('$b'): ") {
        emb(a) should be <= emb(b)
      }
    // non-ASCII keys work END TO END even though their scols bounds are
    // (honestly) dropped — the embedding probes carry the verbs
    val t = Lake.create(spark, Lake.freshRoot(),
      vals.distinct.filter(_.nonEmpty).map(v => (v, 1L)).toDF("k", "n"),
      "k", 2)
    t.merge(Seq(("中文", 99L), ("fresh-key", 7L)).toDF("k", "n"))
    t.read().filter(col("k") === "中文").select("n")
      .collect()(0).getLong(0) shouldBe 99L
    t.read().count() shouldBe vals.distinct.count(_.nonEmpty).toLong + 1L
  }
}
