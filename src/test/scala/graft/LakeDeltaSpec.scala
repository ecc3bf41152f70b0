package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The delta-manifest + parquet-checkpoint metadata layer of
  * graft.sources.Lake: commit payload proportional to WHAT CHANGED (never
  * to the table's file count), checkpoint-anchored resolution that
  * survives vacuum and cold caches, vacuum's own-root containment (a
  * shallow clone can never delete source data), and optimistic-retry
  * parity across every committing verb. */
class LakeDeltaSpec extends SparkTestBase {
  import spark.implicits._

  private def fsOf(t: graft.sources.LakeTable) =
    new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestBytes(t: graft.sources.LakeTable, v: Int): Long =
    fsOf(t).getFileStatus(
      new Path(t.root, f"_manifests/v$v%05d.json")).getLen

  /** The state the latest commit indexed (warm) must equal what a cold
    * reader resolves from the manifests alone: files in order,
    * tombstones and every carried field. */
  private def assertWarmIsCold(t: graft.sources.LakeTable, clue: String): Unit = {
    val v = t.latestVersion
    val warm = t.manifest(v)
    Lake.clearMetadataCaches()
    withClue(s"$clue, v$v warm vs cold: ") { t.manifest(v) shouldBe warm }
  }

  test("a 1-file merge against a 512-file table commits O(changed) bytes") {
    // 2048 rows over 512 real key-range files — the fixture the payload
    // contract is stated against: a single-key merge rewrites ONE file,
    // and the commit it writes must list one remove + one add, never the
    // other 511 entries
    val df = (1L to 2048L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 512)
    t.manifest(0).files.size should be >= 500
    val v0Bytes = manifestBytes(t, 0) // the full anchor: O(files)
    val stats = t.merge(Seq((5L, "NEW5")).toDF("k", "payload"))
    stats.rewrittenFiles shouldBe 1
    stats.keptFiles shouldBe (t.manifest(0).files.size - 1)
    val v1Bytes = manifestBytes(t, 1)
    // the delta is two file entries + headers; the anchor is ~512 of them
    v1Bytes.toDouble should be < (v0Bytes.toDouble / 50)
    v1Bytes should be < 2048L
    // and the resolved state is still the whole table
    t.manifest(1).files.size shouldBe t.manifest(0).files.size
    t.read().count() shouldBe 2048L
    rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "NEW5"))
  }

  test("at 10k files, a 1-file commit stays a few hundred bytes (synthetic)") {
    // metadata-only fixture: 10 000 synthetic entries prove the payload
    // contract at the knob sheet's file-count scale without writing 10k
    // parquet files — commit and resolution never touch data files
    val t = new graft.sources.LakeTable(spark, Lake.freshRoot())
    val entries = (0 until 10000).map(i =>
      Lake.FileEntry(f"data/part-synth-$i%05d.parquet", 1000L,
        i * 1000L, i * 1000L + 999L))
    t.commitAndIndex(Lake.Delta(0, -1, "create", "k", Nil, Nil, full = true,
      adds = entries, removes = Nil, tombstoneAdds = Nil,
      tombstoneRemoves = Nil))
    val add = Lake.FileEntry("data/part-synth-new.parquet", 1000L, 0L, 999L)
    t.commitAndIndex(Lake.Delta(1, 0, "merge", "k", Nil, Nil, full = false,
      adds = Seq(add), removes = Seq(entries.head.path),
      tombstoneAdds = Nil, tombstoneRemoves = Nil))
    manifestBytes(t, 1) should be < 1024L
    manifestBytes(t, 0) should be > (100L * 1024L)
    // cold resolution (caches dropped) reconstructs all 10k entries with
    // carried order preserved and the remove/add applied in place
    Lake.clearMetadataCaches()
    val m1 = t.manifest(1)
    m1.files.size shouldBe 10000
    m1.files.map(_.path) shouldBe (entries.tail :+ add).map(_.path)
  }

  test("parquet checkpoints anchor resolution: bounded replay, DataFrame-readable") {
    spark.conf.set("spark.graft.lake.checkpointInterval", "4")
    try {
      val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
      val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
      (1 to 9).foreach { i =>
        t.merge(Seq((i * 10L, s"m$i")).toDF("k", "payload"))
      }
      val fs = fsOf(t)
      fs.exists(new Path(t.root, "_manifests/v00004.ckpt.parquet")) shouldBe true
      fs.exists(new Path(t.root, "_manifests/v00008.ckpt.parquet")) shouldBe true
      // the checkpoint is an ordinary parquet relation: one row per live
      // file of the state at that version, stats as columns
      val ck = spark.read.parquet(s"${t.root}/_manifests/v00008.ckpt.parquet")
      ck.columns should contain allOf ("idx", "kind", "path", "rows", "minKey", "maxKey")
      ck.count() shouldBe t.manifest(8).files.size.toLong
      // cold resolution of v9 anchors at the v8 checkpoint (replays ONE
      // delta), and the relation is intact
      Lake.clearMetadataCaches()
      t.manifest(9).files.map(_.path) should not be empty
      t.read().count() shouldBe 90L
      rows(t.read().filter(col("k") === 90L)) shouldBe Seq(Seq(90L, "m9"))
    } finally spark.conf.unset("spark.graft.lake.checkpointInterval")
  }

  test("vacuum anchors the horizon with a checkpoint; history resolves without old deltas") {
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    (1 to 5).foreach(i => t.merge(Seq((i * 15L, s"m$i")).toDF("k", "payload")))
    t.vacuum(3) // retain v3..v5; horizon v3 is a plain merge delta
    val fs = fsOf(t)
    fs.exists(new Path(t.root, "_manifests/v00003.ckpt.parquet")) shouldBe true
    (0 to 2).foreach(v => t.hasVersion(v) shouldBe false)
    // cold caches: v3..v5 must resolve from the checkpoint + delta suffix
    Lake.clearMetadataCaches()
    t.snapshot(3).count() shouldBe 90L
    t.snapshot(5).count() shouldBe 90L
    rows(t.read().filter(col("k") === 75L)) shouldBe Seq(Seq(75L, "m5"))
    intercept[Exception] { t.snapshot(2).count() }
  }

  test("vacuuming a shallow clone never deletes the source's files") {
    // ADVICE r9 (medium): clone manifests reference ABSOLUTE source paths;
    // a clone vacuum that resolved them blindly would physically delete
    // data the source still serves — containment to the clone's own root
    // is the fix, mirroring Delta's behavior
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val src = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    val clone = src.cloneShallow(Lake.freshRoot())
    // the clone rewrites one source-referenced file (v1 drops an absolute
    // path), then vacuums its own history down to v1
    clone.merge(Seq((5L, "CLONE5")).toDF("k", "payload"))
    val (mans, files) = clone.vacuum(1)
    mans shouldBe 1
    files shouldBe 0 // the dropped entries live under the SOURCE root
    val fs = fsOf(src)
    src.manifest(0).files.foreach { f =>
      fs.exists(new Path(src.root, f.path)) shouldBe true
    }
    src.read().count() shouldBe 90L
    rows(src.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "val5"))
    // the clone's own post-vacuum state is intact too
    clone.read().count() shouldBe 90L
    rows(clone.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "CLONE5"))
  }

  test("prune stats survive vacuum (checkpoint cold path) and follow commits by name") {
    // ADVICE r9 (low): count-based invalidation goes stale when vacuum +
    // new commits restore the same manifest count; newest-NAME keying and
    // the checkpoint cold path together keep pruning correct and fresh
    val hadCkpt = spark.conf.getOption("spark.graft.lake.checkpointInterval")
    spark.conf.set("spark.graft.lake.checkpointInterval", "2")
    try {
      val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
      val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
      t.merge(Seq((5L, "m1")).toDF("k", "payload"))  // v1
      t.merge(Seq((45L, "m2")).toDF("k", "payload")) // v2 (+ckpt)
      t.vacuum(1)                                    // drop v0, v1
      // COLD: the only stats source for carried files is the checkpoint
      Lake.clearMetadataCaches()
      val root = new Path(t.root)
      val stats = graft.sources.LakeManifestPrune.statsFor(spark, root)
      val live = t.manifest(2).files.map(f => new Path(f.path).getName).toSet
      live.subsetOf(stats.keySet) shouldBe true
      // two more commits restore the pre-vacuum manifest COUNT — the
      // name-keyed cache must still see v3/v4's new files
      t.merge(Seq((65L, "m3")).toDF("k", "payload")) // v3
      t.merge(Seq((66L, "m4")).toDF("k", "payload")) // v4
      val stats2 = graft.sources.LakeManifestPrune.statsFor(spark, root)
      val live2 = t.manifest(4).files.map(f => new Path(f.path).getName).toSet
      live2.subsetOf(stats2.keySet) shouldBe true
      (live2 -- live) should not be empty
    } finally {
      hadCkpt match {
        case Some(v) => spark.conf.set("spark.graft.lake.checkpointInterval", v)
        case None => spark.conf.unset("spark.graft.lake.checkpointInterval")
      }
    }
  }

  test("hasEpoch walks backward and early-exits on the monotone epoch chain") {
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 1)
    t.mergeEpoch(Seq((5L, "E5")).toDF("k", "payload"), 5L).isDefined shouldBe true
    t.mergeEpoch(Seq((6L, "E8")).toDF("k", "payload"), 8L).isDefined shouldBe true
    t.hasEpoch(8L) shouldBe true
    t.hasEpoch(5L) shouldBe true
    // absent epochs: bracketed (walk stops at the first smaller epoch tag)
    // and below-everything both read as not-committed
    t.hasEpoch(7L) shouldBe false
    t.hasEpoch(3L) shouldBe false
    // a replayed epoch is still a no-op after intervening commits
    t.merge(Seq((7L, "M")).toDF("k", "payload"))
    t.mergeEpoch(Seq((5L, "DUP")).toDF("k", "payload"), 5L) shouldBe None
    rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "E5"))
  }

  test("time travel by timestamp resolves versions from in-commit timestamps") {
    // commit timestamps are STAMPED INTO the delta manifests at write, so
    // wall-clock probes captured between commits are deterministic anchors
    // (each commit takes ≥ tens of ms; the captures sit strictly between)
    val beforeCreate = System.currentTimeMillis() - 10
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    val afterV0 = System.currentTimeMillis()
    t.merge(Seq((5L, "V1")).toDF("k", "payload"))
    val afterV1 = System.currentTimeMillis()
    t.merge(Seq((5L, "V2")).toDF("k", "payload"))
    t.versionAt(afterV0) shouldBe 0
    t.versionAt(afterV1) shouldBe 1
    t.versionAt(System.currentTimeMillis()) shouldBe 2
    intercept[IllegalArgumentException] { t.versionAt(beforeCreate) }
    rows(t.snapshotAt(afterV1).filter(col("k") === 5L)) shouldBe
      Seq(Seq(5L, "V1"))
    // the manifest really carries the stamp (not an mtime fallback)
    Lake.fromJson(new String(fsOf(t).open(
      new Path(t.root, "_manifests/v00001.json")).readAllBytes()))
      .commitTs should be > beforeCreate
    // the format option speaks both epoch millis and ISO instants
    Lake.parseTsMillis("1970-01-01T00:00:02Z") shouldBe 2000L
    val viaFormat = spark.read.format("graft-lake")
      .option("timestampAsOf",
        java.time.Instant.ofEpochMilli(afterV1).toString).load(t.root)
    rows(viaFormat.filter(col("k") === 5L).select("payload")) shouldBe
      Seq(Seq("V1"))
    intercept[Exception] {
      spark.read.format("graft-lake")
        .option("versionAsOf", "1").option("timestampAsOf", "2000")
        .load(t.root)
    }
  }

  test("history() is a DataFrame over the retained delta log, newest first") {
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    t.merge(Seq((5L, "V1")).toDF("k", "payload"))
    t.deleteDeferred(Seq(7L).toDF("k"))
    t.compact(2)
    val h = t.history()
    h.columns.toSeq shouldBe Seq("version", "parent_version", "operation",
      "commit_ts", "n_added_files", "n_removed_files", "n_tombstone_files",
      "is_anchor")
    h.select("version").collect().map(_.getInt(0)).toSeq shouldBe Seq(3, 2, 1, 0)
    val byOp = h.collect().map(r => r.getString(2) ->
      ((r.getInt(4), r.getInt(5), r.getInt(6), r.getBoolean(7)))).toMap
    byOp("create")._4 shouldBe true            // anchors
    byOp("compact")._4 shouldBe true
    byOp("merge")._4 shouldBe false
    byOp("merge")._1 should be >= 1            // added its rewrite
    byOp("delete-deferred") shouldBe ((0, 0, 1, false))
    h.filter(col("commit_ts") > 0L).count() shouldBe 4L // all stamped
    // it is a real DataFrame: filters/joins compose
    t.vacuum(2)
    t.history().select("version").collect().map(_.getInt(0)).toSeq shouldBe
      Seq(3, 2)
  }

  test("every committing verb replays a lost race: retry parity") {
    // the onBeforeCommit seam plants a racing carry-over commit exactly
    // once, in the window between a verb's version choice and its rename —
    // each verb under withRetry must lose v+1, replay against the winner, and
    // land v+2 with its own semantics intact
    def mkTable() = {
      val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
      Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    }
    def plantOnce(t: graft.sources.LakeTable): Unit = {
      var raced = false
      t.onBeforeCommit = () => {
        if (!raced) {
          raced = true
          val v = t.latestVersion + 1
          val racing = t.manifest(t.latestVersion)
            .copy(version = v, parentVersion = v - 1, operation = "racer")
          val out = fsOf(t).create(
            new Path(t.root, f"_manifests/v$v%05d.json"), false)
          out.write(Lake.toJson(racing).getBytes); out.close()
        }
      }
    }

    locally { // DELETE
      val t = mkTable(); plantOnce(t)
      val s = t.withRetry(t.delete(Seq(5L, 45L).toDF("k")))
      s.version shouldBe 2
      t.read().count() shouldBe 88L
      t.read().filter(col("k").isin(5L, 45L)).count() shouldBe 0L
    }
    locally { // DEFERRED DELETE
      val t = mkTable(); plantOnce(t)
      val s = t.withRetry(t.deleteDeferred(Seq(5L).toDF("k")))
      s.version shouldBe 2
      t.manifest(2).tombstones should have size 1
      t.read().count() shouldBe 89L
    }
    locally { // COMPACT
      val t = mkTable(); plantOnce(t)
      val s = t.withRetry(t.compact(1))
      s.version shouldBe 2
      t.manifest(2).operation shouldBe "compact"
      t.manifest(2).files should have size 1
      t.read().count() shouldBe 90L
    }
    locally { // OPTIMIZE ZORDER
      val t = mkTable(); plantOnce(t)
      val s = t.withRetry(t.compact(2, Some(("zorder", Seq("k", "k")))))
      s.version shouldBe 2
      t.manifest(2).operation shouldBe "optimize-zorder"
      t.read().count() shouldBe 90L
    }
    locally { // RESTORE
      val t = mkTable()
      t.merge(Seq((5L, "BAD")).toDF("k", "payload")) // v1
      plantOnce(t)
      val s = t.withRetry(t.restore(0))
      s.version shouldBe 3 // lost v2 to the racer, replayed to v3
      rows(t.read().filter(col("k") === 5L)) shouldBe Seq(Seq(5L, "val5"))
    }
    // the verbs the property interleaves never draw lose the same race;
    // the racer here carries the full table metadata (schema, constraints),
    // so schema verbs replay against it too. Each must land v+2 and index
    // exactly the state a cold reader resolves
    def wideTable() = Lake.create(spark, Lake.freshRoot(),
      (1L to 90L).map(k => (k, s"val$k", (k % 7).toInt, if (k % 2 == 0) "A" else "B"))
        .toDF("k", "payload", "n", "status"), "k", 3)
    def plantMetadataRacer(t: graft.sources.LakeTable): Unit = {
      val racer = new graft.sources.LakeTable(spark, t.root)
      var raced = false
      t.onBeforeCommit = () => {
        if (!raced) {
          raced = true
          val v = t.latestVersion + 1
          racer.commitDelta(Lake.fullDelta(t.manifest(v - 1))
            .copy(version = v, parentVersion = v - 1, operation = "racer"))
        }
      }
    }
    val verbs: Seq[(String, graft.sources.LakeTable => Unit,
        graft.sources.LakeTable => Lake.MergeStats)] = Seq(
      ("restore", _.merge(Seq((5L, "BAD", 0, "A")).toDF("k", "payload", "n", "status")),
        t => t.withRetry(t.restore(0))),
      ("drop column", _ => (), t => t.withRetry(t.dropColumn("payload"))),
      ("alter column type", _ => (),
        t => t.withRetry(t.alterColumnType("n", "bigint"))),
      ("add constraint", _ => (),
        t => t.withRetry(t.addConstraint("n_pos", "n >= 0"))),
      ("drop constraint", _.addConstraint("n_pos", "n >= 0"),
        t => t.withRetry(t.dropConstraint("n_pos"))),
      ("analyze", _ => (), t => t.withRetry(t.analyzeColumns(Seq("n", "status")))),
      ("compact", _ => (), t => t.withRetry(t.compact(2))),
      ("sort by", _ => (),
        t => t.withRetry(t.compact(2, Some(("sort", Seq("status", "n")))))),
      ("zorder", _ => (),
        t => t.withRetry(t.compact(2, Some(("zorder", Seq("k", "n")))))),
      ("zorder n", _ => (),
        t => t.withRetry(t.compact(2, Some(("zorder", Seq("k", "n", "status")))))),
      ("hilbert", _ => (),
        t => t.withRetry(t.compact(2, Some(("hilbert", Seq("k", "n")))))),
      ("optimize where", _ => (),
        t => t.withRetry(t.compactWhere(col("k") <= 30L))),
      ("optimize where sort", _ => (),
        t => t.withRetry(t.compactWhere(col("k") <= 30L, 0,
          Some(("sort", Seq("status", "n")))))),
      ("optimize where zorder", _ => (),
        t => t.withRetry(t.compactWhere(col("k") <= 30L, 0,
          Some(("zorder", Seq("k", "n")))))),
      ("optimize where hilbert", _ => (),
        t => t.withRetry(t.compactWhere(col("k") <= 30L, 0,
          Some(("hilbert", Seq("k", "n")))))),
      ("binpack", _ => (), t => t.withRetry(t.compactBinPack(40L))),
      ("binpack split", _ => (),
        t => t.withRetry(t.compactBinPack(10L, 10L, 20L))),
      ("optimize migrate", _.alterPartitioning(Seq("status")),
        t => t.withRetry(t.compactMigrate())),
      ("delete where", _.deleteDeferred(Seq(7L).toDF("k")),
        t => t.withRetry(t.deleteWhere(col("n") === 3))))
    // every compaction form's committed history row: its operation name
    // and whether it anchors (whole-table forms) or commits incrementally
    val committed = Map(
      "compact" -> ("compact", true),
      "sort by" -> ("optimize-sortby-status-n", true),
      "zorder" -> ("optimize-zorder", true),
      "zorder n" -> ("optimize-zorder-3d", true),
      "hilbert" -> ("optimize-hilbert-2d", true),
      "optimize where" -> ("optimize-where", false),
      "optimize where sort" -> ("optimize-where-sort", false),
      "optimize where zorder" -> ("optimize-where-zorder", false),
      "optimize where hilbert" -> ("optimize-where-hilbert", false),
      "binpack" -> ("optimize-binpack", false),
      "binpack split" -> ("optimize-binpack", false),
      "optimize migrate" -> ("optimize-migrate", false))
    verbs.foreach { case (name, prep, verb) =>
      val t = wideTable()
      prep(t)
      val v0 = t.latestVersion
      plantMetadataRacer(t)
      withClue(s"$name: ") { verb(t).version shouldBe v0 + 2 }
      committed.get(name).foreach { expected =>
        val r = t.history().filter(col("version") === v0 + 2)
          .select("operation", "is_anchor").head()
        withClue(s"$name history: ") {
          (r.getString(0), r.getBoolean(1)) shouldBe expected
        }
      }
      t.onBeforeCommit = () => ()
      t.read().count() should be > 0L
      assertWarmIsCold(t, name)
    }
    locally { // keyless DELETE WHERE: the file-identity rewrite path
      val t = Lake.createAppendLog(spark, Lake.freshRoot(),
        (1L to 60L).map(i => (i, s"m$i", i % 5)).toDF("id", "msg", "shard"), 2)
      plantMetadataRacer(t)
      t.withRetry(t.deleteWhere(col("shard") === 2L)).version shouldBe 2
      t.onBeforeCommit = () => ()
      t.read().count() shouldBe 48L
      assertWarmIsCold(t, "keyless delete where")
    }
    locally { // shallow clone's v0 and a fresh create index cold-equal state
      val src = wideTable()
      assertWarmIsCold(src, "create")
      val clone = src.cloneShallow(Lake.freshRoot())
      assertWarmIsCold(clone, "clone")
    }
    locally { // exhausted retries still fail loudly, after exactly 3 attempts
      val t = mkTable()
      var attempts = 0
      t.onBeforeCommit = () => {
        attempts += 1
        val v = t.latestVersion + 1
        val racing = t.manifest(t.latestVersion)
          .copy(version = v, parentVersion = v - 1, operation = "racer")
        val out = fsOf(t).create(
          new Path(t.root, f"_manifests/v$v%05d.json"), false)
        out.write(Lake.toJson(racing).getBytes); out.close()
      }
      intercept[java.util.ConcurrentModificationException] {
        t.withRetry(t.delete(Seq(5L).toDF("k")))
      }
      attempts shouldBe 3
    }
  }
  test("mergeInto without INSERT replays when a racer inserts an unmatched source key") {
    // the rebase envelope must cover SOURCE KEYS when no (unconditional)
    // INSERT clause materializes them: a delete-claused key outside every
    // file range is in neither adds nor hit, yet a racing winner
    // inserting that key must force a replay — serialize-after semantics
    // would apply the WHEN MATCHED DELETE to the winner's row
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3)
    val racer = new graft.sources.LakeTable(spark, t.root)
    var raced = false
    t.onBeforeCommit = () => {
      if (!raced) {
        raced = true
        racer.insertAll(Seq((500L, "RACER")).toDF("k", "payload"))
      }
    }
    val s = t.withRetry(t.mergeInto(Seq((500L, "X")).toDF("k", "payload"),
      whenMatchedDeleteIf = Some(lit(true)),
      whenMatchedUpdateIf = Some(lit(false)),
      whenNotMatchedInsert = false))
    s.version shouldBe 2 // lost v1 to the racer, declined rebase, replayed
    t.read().filter(col("k") === 500L).count() shouldBe 0L
    t.read().count() shouldBe 90L
  }

  test("property: random verb interleave with planted racers stays serializable") {
    // 24 random verbs (merge / COW delete / deferred delete / deferred
    // PREDICATE delete / update / insert / conditional merge / compact /
    // binpack / scoped re-cluster / rename / ADD COLUMN), ~1/3 of
    // them LOSING a planted race to a concurrent inserter — the final
    // table must equal a MODEL applying the serialization order (racer
    // first, then the replayed/rebased verb) by hand. Deterministic
    // seed: failures reproduce.
    val rnd = new scala.util.Random(12)
    val t = Lake.create(spark, Lake.freshRoot(),
      (1L to 200L).map(k => (k, s"p$k", "A")).toDF("k", "payload", "status"),
      "k", 4)
    val racer = new graft.sources.LakeTable(spark, t.root)
    // a MATERIALIZED VIEW rides the whole interleave: created over the
    // fresh table, refreshed incrementally every few steps and once at
    // the end — after each refresh it must equal the from-scratch
    // aggregate of the base AS OF the version the refresh folded to.
    // This drags the MV fold across every verb below: COW and MOR
    // deletes, conditional merges, compactions (whose rewrites must net
    // to NOTHING in the feed), a column rename, ADD COLUMN, partition
    // evolution, and the planted racers' extra commits.
    spark.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
    graft.sources.LakeCatalog.register(spark, "prop_base", t.root)
    graft.sources.LakeMv.create(spark, "prop_mv", "prop_base",
      Seq(graft.sources.LakeMv.GroupItem("status"),
        graft.sources.LakeMv.AggItem("count_star", "n", ""),
        graft.sources.LakeMv.AggItem("sum", "sk", "k")),
      None, "CREATE MATERIALIZED VIEW prop_mv AS …")
    val mvDef = graft.sources.LakeMv.parseDef(
      graft.sources.LakeCatalog.lookupMv(spark, "prop_mv").get)
    def assertMvFresh(): Unit = {
      val (_, to, _) = graft.sources.LakeMv.refresh(spark, "prop_mv")
      val mv = graft.sources.LakeMv.readDf(spark, mvDef)
        .select(col("status"), col("n"),
          col("sk").cast("decimal(28,10)"))
        .orderBy("status").collect().toSeq
      val scratch = t.snapshot(to).groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("decimal(28,10)")).cast("decimal(28,10)").as("sk"))
        .orderBy("status").collect().toSeq
      withClue(s"MV vs from-scratch at base v$to: ") { mv shouldBe scratch }
    }
    val model = scala.collection.mutable.Map.empty[Long, (String, String)]
    (1L to 200L).foreach(k => model(k) = (s"p$k", "A"))
    var nextFresh = 1000L
    var payloadCol = "payload" // flips after the mid-sequence rename
    var extraCols = Seq.empty[String] // grows at the mid-sequence ADD COLUMN
    var evolved = false // one mid-sequence partition-spec evolution
    def freshKey(): Long = { nextFresh += 1; nextFresh }
    def df(rows: Seq[(Long, String, String)]) =
      extraCols.foldLeft(rows.toDF("k", payloadCol, "status"))((d, c) =>
        d.withColumn(c, lit(null).cast("string")))
    for (step <- 1 to 24) {
      // maybe plant a racer: a fresh-key insert that wins the version
      // race — serialization order puts it FIRST. A verb that turns out
      // to be a NO-OP (empty update hit, nothing to binpack) never
      // commits and never triggers the plant, so the racer runs right
      // after instead — same serial order either way.
      var racerRow: Option[Long] = None
      var planted = false
      if (rnd.nextInt(3) == 0) {
        val rk = freshKey()
        racerRow = Some(rk)
        t.onBeforeCommit = () => {
          if (!planted) {
            planted = true
            racer.insertAll(df(Seq((rk, s"race$rk", "R"))))
          }
        }
        model(rk) = (s"race$rk", "R")
      } else t.onBeforeCommit = () => ()
      rnd.nextInt(13) match {
        case 0 => // keyed upsert batch: some existing, some fresh
          val rows = (1 to 5).map { _ =>
            val k = if (rnd.nextBoolean()) rnd.nextLong(200) + 1 else freshKey()
            (k, s"m$step-$k", "M")
          }.distinctBy(_._1)
          rows.foreach { case (k, p, s0) => model(k) = (p, s0) }
          t.withRetry(t.merge(df(rows)))
        case 1 => // COW delete of (maybe-absent) keys
          val ks = (1 to 3).map(_ => rnd.nextLong(250) + 1)
          ks.foreach(model.remove)
          t.withRetry(t.delete(ks.toDF("k")))
        case 2 => // deferred (tombstone) delete
          val ks = (1 to 3).map(_ => rnd.nextLong(250) + 1)
          ks.foreach(model.remove)
          t.withRetry(t.deleteDeferred(ks.toDF("k")))
        case 3 => // predicate update over the current logical names
          model.keys.toSeq.foreach { k =>
            if (k % 10 == step % 10)
              model(k) = (model(k)._1, s"U$step")
          }
          t.withRetry(t.update(col("k") % 10 === step % 10,
            Seq("status" -> lit(s"U$step"))))
        case 4 => // append-only insert of fresh keys
          val rows = (1 to 3).map(_ => { val k = freshKey(); (k, s"i$k", "I") })
          rows.foreach { case (k, p, s0) => model(k) = (p, s0) }
          t.withRetry(t.insertAll(df(rows)))
        case 5 => // conditional merge: delete claused on source status
          val victim = rnd.nextLong(200) + 1
          val keep = freshKey()
          val rows = Seq((victim, "DEAD", "D"), (keep, s"c$keep", "C"))
          model.remove(victim)
          model(keep) = (s"c$keep", "C")
          t.withRetry(t.mergeInto(df(rows),
            whenMatchedDeleteIf = Some(col("source.status") === "D"),
            whenMatchedUpdateIf = Some(lit(false)),
            whenNotMatchedInsertIf = Some(col("source.status") === "C")))
        case 6 => t.withRetry(t.compact(4))
        case 7 => t.withRetry(t.compactBinPack(10L, 60L))
        case 8 if step == 12 => // one mid-sequence metadata-only rename
          t.withRetry(t.renameColumn("payload", "note"))
          payloadCol = "note"
        case 9 => // deferred PREDICATE delete (replays on a lost race —
          // the racer's fresh key is > 250, so the re-scan is identical)
          model.keys.toSeq.foreach { k =>
            if (k % 25 == step % 25 && k <= 250) model.remove(k)
          }
          t.withRetry(t.deleteDeferredWhere(
            col("k") % 25 === step % 25 && col("k") <= 250))
        case 10 if step > 6 && extraCols.isEmpty => // one metadata-only
          // ADD COLUMN: every later batch must carry it (null)
          t.withRetry(t.addColumn("annot", "string"))
          extraCols = Seq("annot")
        case 11 => // predicate-scoped re-cluster: layout-only, no rows move
          t.withRetry(t.compactWhere(col("k") <= 100L, 2,
            Some(("sort", Seq("status")))))
        case 12 if step > 4 && !evolved => // one mid-sequence metadata-only
          // PARTITION-SPEC evolution: content unchanged; later rewrites
          // land in the new layout, old eras keep theirs — every
          // subsequent verb must stay exact across mixed layouts (and a
          // lost race against this commit must replay, never splice)
          t.withRetry(t.alterPartitioning(Seq("status")))
          evolved = true
        case _ => t.withRetry(t.compact(3))
      }
      racerRow.foreach { rk =>
        if (!planted) {
          planted = true
          racer.insertAll(df(Seq((rk, s"race$rk", "R"))))
        }
      }
      assertWarmIsCold(t, s"step $step")
      // incremental MV refresh mid-interleave (the racer seam must not
      // fire during the refresh's state-table commit)
      if (step % 6 == 0) { t.onBeforeCommit = () => (); assertMvFresh() }
    }
    t.onBeforeCommit = () => ()
    assertMvFresh() // final fold across everything since the last one
    val got = t.read()
      .select(col("k"), col(payloadCol), col("status"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    got.size shouldBe model.size
    got shouldBe model.toMap
  }

  test("property: keyless verb interleave with racing appends stays serializable") {
    // the append-log twin of the keyed property: 20 random verbs
    // (append incl. DUPLICATE rows / predicate COW delete / predicate
    // update / binpack / full compact / partition-spec evolution), ~1/3
    // losing a planted race to a concurrent APPEND. Appends splice via
    // rebase (both land); every other loser replays. The model is a row
    // MULTISET — duplicates are first-class in an append log. Racer rows
    // use shard 99, outside every predicate's range, so the serial order
    // (racer first) never changes a predicate verb's effect.
    val rnd = new scala.util.Random(21)
    val t = Lake.createAppendLog(spark, Lake.freshRoot(),
      (1L to 80L).map(i => (i, s"m$i", i % 7)).toDF("id", "msg", "shard"),
      2, statsCols = Seq("shard"))
    val racer = new graft.sources.LakeTable(spark, t.root)
    val model = scala.collection.mutable.Map.empty[(Long, String, Long), Long]
      .withDefaultValue(0L)
    (1L to 80L).foreach(i => model((i, s"m$i", i % 7)) += 1)
    var nextId = 1000L
    var evolvedTo: Seq[String] = Nil
    def fresh(): Long = { nextId += 1; nextId }
    for (step <- 1 to 20) {
      var planted = false
      var racerRow: Option[(Long, String, Long)] = None
      if (rnd.nextInt(3) == 0) {
        val r = (fresh(), s"race$step", 99L)
        racerRow = Some(r)
        t.onBeforeCommit = () => {
          if (!planted) {
            planted = true
            racer.insertAll(Seq(r).toDF("id", "msg", "shard"))
          }
        }
        model(r) += 1
      } else t.onBeforeCommit = () => ()
      rnd.nextInt(7) match {
        case 0 => // append, deliberately including a DUPLICATE of row 5
          val rows = Seq((fresh(), s"a$step", step % 7L),
            (5L, "m5", 5L % 7))
          rows.foreach(r => model(r) += 1)
          t.withRetry(t.insertAll(rows.toDF("id", "msg", "shard")))
        case 1 => // predicate COW delete (never touches shard 99)
          val s0 = step % 7L
          model.keys.toSeq.filter(_._3 == s0).foreach(model.remove)
          t.withRetry(t.deleteWhere(col("shard") === s0))
        case 2 => // predicate update of msg (never touches shard 99)
          val s0 = (step + 3) % 7L
          model.keys.toSeq.filter(_._3 == s0).foreach { k =>
            val n = model.remove(k).get
            model((k._1, s"U$step", k._3)) += n
          }
          t.withRetry(t.update(col("shard") === s0,
            Seq("msg" -> lit(s"U$step"))))
        case 3 =>
          // alternate the two layout-only maintenance verbs: binpack
          // folds small files, MIGRATE folds foreign-era files — both
          // must never change content
          if (step % 2 == 0) t.withRetry(t.compactBinPack(10L, 40L))
          else t.withRetry(t.compactMigrate())
        case 4 => t.withRetry(t.compact(2))
        case 5 => // flip the partition spec: shard-partitioned <-> flat
          evolvedTo = if (evolvedTo.isEmpty) Seq("shard") else Nil
          t.withRetry(t.alterPartitioning(evolvedTo))
        case _ => // bulk append of fresh rows
          val rows = (1 to 4).map(_ => (fresh(), s"b$step", step % 7L))
          rows.foreach(r => model(r) += 1)
          t.withRetry(t.insertAll(rows.toDF("id", "msg", "shard")))
      }
      racerRow.foreach { r =>
        if (!planted) {
          planted = true
          racer.insertAll(Seq(r).toDF("id", "msg", "shard"))
        }
      }
      assertWarmIsCold(t, s"step $step")
    }
    t.onBeforeCommit = () => ()
    val got = t.read().collect()
      .groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .view.mapValues(_.length.toLong).toMap
    got shouldBe model.toMap
  }

  test("epoch tags qualified by appId: interleaved writers never collide") {
    val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 1)
    // writer A commits epochs 0 and 1; writer B (a fresh checkpoint whose
    // epochs restart at 0) interleaves its own epoch 0 between them
    t.mergeEpoch(Seq((5L, "A0")).toDF("k", "payload"), 0L, "appA")
      .isDefined shouldBe true
    t.mergeEpoch(Seq((6L, "B0")).toDF("k", "payload"), 0L, "appB")
      .isDefined shouldBe true
    t.mergeEpoch(Seq((7L, "A1")).toDF("k", "payload"), 1L, "appA")
      .isDefined shouldBe true
    // each app sees exactly its own committed epochs — B's epoch 0 must
    // not read as A's, and A's tags must not early-exit B's probe
    t.hasEpoch(0L, "appA") shouldBe true
    t.hasEpoch(1L, "appA") shouldBe true
    t.hasEpoch(0L, "appB") shouldBe true
    t.hasEpoch(1L, "appB") shouldBe false
    // a replay of B's epoch 0 after A's later commits is still a no-op
    t.mergeEpoch(Seq((6L, "DUP")).toDF("k", "payload"), 0L, "appB") shouldBe None
    rows(t.read().filter(col("k") === 6L)) shouldBe Seq(Seq(6L, "B0"))
    // the legacy unqualified probe neither crashes on qualified tags nor
    // misreads them as its own
    t.hasEpoch(0L) shouldBe false
    t.mergeEpoch(Seq((8L, "L0")).toDF("k", "payload"), 0L).isDefined shouldBe true
    t.hasEpoch(0L) shouldBe true
    t.hasEpoch(0L, "appC") shouldBe false
  }
}
