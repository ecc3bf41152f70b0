package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Hive-style partition layout and typed (DATE) file statistics in the
  * lake: partition-filtered reads must scan only that partition's files,
  * merges must rewrite only the partitions their updates touch, and a
  * date-range filter must prune files through the injected rule. */
class LakePartitionSpec extends SparkTestBase {
  import spark.implicits._

  /** Files ACTUALLY read at execution — partition pruning applies inside
    * the scan (the index still lists every file), so assertions must look
    * at runtime file names, not `location.inputFiles`. */
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq

  private def withExtendedSession[A](f: SparkSession => A): A = {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = GraftSession.tune(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new org.apache.spark.sql.graft.GraftSessionExtensions))
      .getOrCreate()
    try f(s2)
    finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  // 3 partitions (p=0,1,2), keys GLOBALLY interleaved across partitions:
  // k % 3 picks the partition, so every partition holds the full key range
  // — exactly the layout where key-only pruning degrades and
  // partition-awareness must carry the hit test
  private def mkPartitioned() = {
    val df = (1L to 300L).map(k => (k, k % 3, s"val$k")).toDF("k", "p", "payload")
    Lake.create(spark, Lake.freshRoot(), df, "k", 6, partitionBy = Seq("p"))
  }

  test("create lays out hive directories; reads recover the partition column") {
    val t = mkPartitioned()
    val m = t.manifest(0)
    m.partitionCols shouldBe Seq("p")
    // every manifest entry lives under a p=<v>/ directory and carries
    // exact-value partition bounds in its stats
    m.files.foreach { f =>
      f.path should fullyMatch regex "data/p=\\d/part-.*\\.parquet"
      val (mn, mx) = f.cols("p")
      mn shouldBe mx
    }
    m.files.map(f => f.cols("p")._1).toSet shouldBe Set(0L, 1L, 2L)
    // the partition column reads back as a real column
    t.read().count() shouldBe 300L
    rows(t.read().groupBy("p").count().orderBy("p")) shouldBe
      Seq(Seq(0L, 100L), Seq(1L, 100L), Seq(2L, 100L))
  }

  test("a partition-filtered read scans ONLY that partition's files") {
    val t = mkPartitioned()
    val q = t.read().filter(col("p") === 1L)
    val scanned = scannedPaths(q)
    scanned should not be empty
    scanned.foreach(_ should include("/p=1/"))
    scanned.size should be < t.manifest(0).files.size
    q.count() shouldBe 100L
    q.select(min("k"), max("k")).collect()(0).toSeq shouldBe Seq(1L, 298L)
  }

  test("merge rewrites only the touched partition; others carry by reference") {
    val t = mkTableForMerge()
    val v0 = t.manifest(0).files.map(_.path).toSet
    // one update, key 3 in partition p=0 — key ranges OVERLAP across
    // partitions, so without partition-awareness this would also rewrite
    // the p=1/p=2 files covering key 3's range
    val stats = t.merge(Seq((3L, 0L, "NEW3")).toDF("k", "p", "payload"))
    stats.rewrittenFiles shouldBe 1
    val v1 = t.manifest(1).files
    (v0 intersect v1.map(_.path).toSet).size shouldBe (v0.size - 1)
    // the rewrite landed back inside its hive directory
    val fresh = v1.map(_.path).filterNot(v0.contains)
    fresh.foreach(_ should include("p=0/"))
    // hive recovery appends the partition column last — select explicitly
    rows(t.read().filter(col("k") === 3L).select("k", "p", "payload")) shouldBe
      Seq(Seq(3L, 0L, "NEW3"))
    t.read().count() shouldBe 300L
    // and the post-merge snapshot still partition-prunes
    scannedPaths(t.read().filter(col("p") === 2L)).foreach(_ should include("/p=2/"))
  }

  private def mkTableForMerge() = {
    val df = (1L to 300L).map(k => (k, k % 3, s"val$k")).toDF("k", "p", "payload")
    Lake.create(spark, Lake.freshRoot(), df, "k", 3, partitionBy = Seq("p"))
  }

  test("delete without partition info still erases correctly across partitions") {
    val t = mkPartitioned()
    t.delete(Seq(3L, 4L, 5L).toDF("k")) // one key per partition
    t.read().count() shouldBe 297L
    t.read().filter(col("k").isin(3L, 4L, 5L)).count() shouldBe 0L
    rows(t.read().groupBy("p").count().orderBy("p")) shouldBe
      Seq(Seq(0L, 99L), Seq(1L, 99L), Seq(2L, 99L))
    // pre-delete snapshot intact (COW)
    t.snapshot(0).count() shouldBe 300L
  }

  test("compact preserves the partition layout") {
    val t = mkPartitioned()
    t.merge(Seq((3L, 0L, "NEW3")).toDF("k", "p", "payload"))
    t.compact(3)
    val m = t.manifest(t.latestVersion)
    m.partitionCols shouldBe Seq("p")
    m.files.foreach(_.path should include("p="))
    t.read().count() shouldBe 300L
    rows(t.read().filter(col("k") === 3L).select("k", "p", "payload")) shouldBe
      Seq(Seq(3L, 0L, "NEW3"))
  }

  test("change feed speaks the partition column and classifies across partitions") {
    val t = mkTableForMerge()
    // update in p=0, insert into p=1, then a COW delete in p=0
    t.merge(Seq((3L, 0L, "NEW3"), (301L, 1L, "INS301")).toDF("k", "p", "payload"))
    t.delete(Seq(6L).toDF("k"))
    val feed = t.changes(0, t.latestVersion)
    feed.columns should contain("p")
    rows(feed.select("k", "p", "payload", "_change_type")
      .orderBy("k", "_change_type")) shouldBe Seq(
      Seq(3L, 0L, "NEW3", "update_postimage"),
      Seq(3L, 0L, "val3", "update_preimage"),
      Seq(6L, 0L, "val6", "delete"),
      Seq(301L, 1L, "INS301", "insert"))
    // rewritten-but-identical rows from the cross-partition delete rewrite
    // cancel — rows that merely rode along never enter the feed
    feed.filter(col("k") === 9L).count() shouldBe 0L
  }

  test("multi-column partitioning: nested dirs, per-leaf pruning and merges") {
    // two levels, r (2 values) × b (3 values): 6 leaf directories, keys
    // interleaved so every leaf spans the whole key range
    val df = (1L to 600L).map(k => (k, k % 2, k % 3, s"v$k"))
      .toDF("k", "r", "b", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 6,
      partitionBy = Seq("r", "b"))
    val m = t.manifest(0)
    m.partitionCols shouldBe Seq("r", "b")
    m.files.foreach(_.path should fullyMatch
      regex "data/r=\\d/b=\\d/part-.*\\.parquet")
    m.files.foreach { f =>
      f.cols("r")._1 shouldBe f.cols("r")._2 // exact-value bounds per leaf
      f.cols("b")._1 shouldBe f.cols("b")._2
    }
    t.read().count() shouldBe 600L
    // a both-level filter reads only the one leaf directory
    val q = t.read().filter(col("r") === 1L && col("b") === 2L)
    scannedPaths(q).foreach(_ should include("/r=1/b=2/"))
    q.count() shouldBe 100L // k ≡ 5 (mod 6)
    // a merge carrying both partition columns rewrites only its leaf
    val before = m.files.size
    val stats = t.merge(Seq((5L, 1L, 2L, "NEW5")).toDF("k", "r", "b", "payload"))
    stats.rewrittenFiles should be < before
    val fresh = t.manifest(1).files.map(_.path)
      .filterNot(m.files.map(_.path).toSet)
    fresh should not be empty
    fresh.foreach(_ should include("r=1/b=2/"))
    rows(t.read().filter(col("k") === 5L)
      .select("k", "r", "b", "payload")) shouldBe Seq(Seq(5L, 1L, 2L, "NEW5"))
    t.read().count() shouldBe 600L
  }

  test("STRING partition columns: merges hit through string bounds, never blind-insert") {
    // regression: the hit probe used to Long-cast string partition values
    // to null, matching ZERO files — a merge then re-inserted every
    // matched key as a duplicate while the old rows carried by reference
    val cs = Seq("US", "DE", "JP")
    val df = (1L to 300L).map(k => (k, cs((k % 3).toInt), s"v$k"))
      .toDF("k", "country", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 3,
      partitionBy = Seq("country"))
    val before = t.manifest(0).files.size
    val stats = t.merge(Seq((3L, "US", "NEW3")).toDF("k", "country", "payload"))
    t.read().count() shouldBe 300L // the bug made this 301 (duplicate key 3)
    rows(t.read().filter(col("k") === 3L)
      .select("k", "country", "payload")) shouldBe Seq(Seq(3L, "US", "NEW3"))
    // partition-awareness constrains through the exact string bounds:
    // only the US leaf rewrites even though key ranges span every country
    stats.rewrittenFiles should be < before
    t.manifest(1).files.map(_.path).filterNot(t.manifest(0).files.map(_.path).toSet)
      .foreach(_ should include("country=US/"))
  }

  test("sort/zorder re-cluster WITHIN partitions; shallow clone still refuses") {
    val t = mkPartitioned() // p = k % 3, keys globally interleaved
    // z-order on (k, payload-hash) inside each hive dir: layout preserved,
    // every file stays under its partition, reads stay prunable
    t.compact(6, Some(("zorder", Seq("k", "k"))))
    val m = t.manifest(t.latestVersion)
    m.partitionCols shouldBe Seq("p")
    m.files.foreach(_.path should include("p="))
    t.read().count() shouldBe 300L
    scannedPaths(t.read().filter(col("p") === 1L)).foreach(_ should include("/p=1/"))
    // per-partition SORT BY: same layout contract
    t.compact(6, Some(("sort", Seq("payload"))))
    val m2 = t.manifest(t.latestVersion)
    m2.files.foreach(_.path should include("p="))
    m2.files.foreach(f => f.scols.keySet should contain("payload"))
    t.read().count() shouldBe 300L
    // shallow clone still refuses (basePath recovery)
    intercept[IllegalArgumentException] { t.cloneShallow(Lake.freshRoot()) }
  }

  test("DATE-keyed lake prunes files for a date-range filter via the rule") {
    withExtendedSession { s =>
      import s.implicits._
      val df = (0 until 365).map { i =>
        (java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i)),
          i.toLong, s"d$i")
      }.toDF("d", "v", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "d", 4)
      // manifest stats are days-since-epoch; 1995-01-01 = 9131
      val m = t.manifest(0)
      m.files.map(_.minKey).min shouldBe
        java.time.LocalDate.of(1995, 1, 1).toEpochDay
      // a one-quarter filter scans a strict subset of the files
      val q = t.read().filter(
        col("d") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
          col("d") <= lit(java.sql.Date.valueOf("1995-03-31")))
      val scanned = q.queryExecution.sparkPlan.collect {
        case fss: FileSourceScanExec => fss
      }.flatMap(_.relation.location.inputFiles)
      scanned.size should be < m.files.size
      scanned.size should be > 0
      q.count() shouldBe 90L
    }
  }

  test("string bound helpers: lower truncates, upper is a true ceiling") {
    // invariants the pruning correctness rests on: strLower(s) <= s and
    // strUpper(s) >= s for EVERY string (so a [lower, ceiling] interval
    // always contains the file's real values), exercised over random
    // ASCII strings spanning the 16-char truncation boundary
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val s = (0 until rnd.nextInt(40)).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
      graft.sources.Lake.strLower(s) should be <= s
      graft.sources.Lake.strUpper(s).foreach(_ should be >= s)
      graft.sources.Lake.strLower(s).length should be <= 16
    }
    // exact below the limit, ceiling above it
    graft.sources.Lake.strUpper("short") shouldBe Some("short")
    graft.sources.Lake.strUpper("a" * 20) shouldBe Some("a" * 15 + "b")
    // the unincrementable prefix has no finite ceiling
    graft.sources.Lake.strUpper("￿" * 20) shouldBe None
    graft.sources.Lake.isAscii("plain") shouldBe true
    graft.sources.Lake.isAscii("naïve") shouldBe false
  }

  test("OPTIMIZE SORT BY + string stats: equality filter prunes files") {
    withExtendedSession { s =>
      import s.implicits._
      // 5 priority values, keys interleaved so key clustering spreads each
      // priority across every file
      val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val df = (1L to 500L).map(k => (k, pr((k % 5).toInt), s"v$k"))
        .toDF("k", "prio", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 5,
        statsCols = Seq("prio"))
      // key-clustered layout: every file spans all priorities — no pruning
      val before = t.read().filter(col("prio") === "1-URGENT")
      before.select(input_file_name()).distinct().count() shouldBe 5L
      // sort-by re-layout: string bounds tighten, the filter prunes
      t.compact(5, Some(("sort", Seq("prio"))))
      t.manifest(t.latestVersion).operation should startWith("optimize-sortby")
      t.manifest(t.latestVersion).files.foreach(f =>
        f.scols.keySet should contain("prio"))
      val q = t.read().filter(col("prio") === "1-URGENT")
      val scanned = q.queryExecution.sparkPlan.collect {
        case fss: FileSourceScanExec => fss
      }.flatMap(_.relation.location.inputFiles)
      scanned.size should be < 5
      q.count() shouldBe 100L
      // range predicates prune too, and answers stay exact
      val r = t.read().filter(col("prio") >= "3" && col("prio") < "5")
      r.count() shouldBe 200L
      r.queryExecution.sparkPlan.collect {
        case fss: FileSourceScanExec => fss
      }.flatMap(_.relation.location.inputFiles).size should be < 5
      // non-ASCII values never produce string stats (order divergence)
      val dfU = (1L to 50L).map(k => (k, if (k % 2 == 0) "zürich" else "ascii"))
        .toDF("k", "city")
      val tU = Lake.create(s, Lake.freshRoot(), dfU, "k", 2,
        statsCols = Seq("city"))
      tU.manifest(0).files.foreach(_.scols shouldBe empty)
      tU.read().filter(col("city") === "ascii").count() shouldBe 25L
    }
  }

  test("gated lanes: partition lane scans one year's files; date lane prunes") {
    withExtendedSession { s =>
      // re-state the lane's scan (same table build) with runtime file
      // tracking: only the filtered year's hive directory may be read
      val o = graft.sources.Tables.orders(s, "/root/testdata/sf0.001")
        .withColumn("o_year", year(col("o_orderdate")))
      val pt = Lake.create(s, Lake.freshRoot(), o, "o_orderkey", 8,
        partitionBy = Seq("o_year"))
      val partFiles = pt.read().filter(col("o_year") === 1995)
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      partFiles should not be empty
      partFiles.foreach(_ should include("o_year=1995"))
      Lake.queries("lake_partition_pruning")(s, "/root/testdata/sf0.001")
        .count() should be > 0L

      val date = Lake.queries("lake_date_pruning")(s, "/root/testdata/sf0.001")
      val dateFiles = date.queryExecution.sparkPlan.collect {
        case fss: FileSourceScanExec => fss
      }.flatMap(_.relation.location.inputFiles).filter(_.contains("/data/"))
      dateFiles should not be empty
      dateFiles.size should be < 8 // the table holds 8 date-sliced files
      date.count() should be > 0L
    }
  }
  test("merge that MOVES a key to a new partition erases the old row") {
    val t = mkTableForMerge()
    // key 3 lives in p=0; the update re-homes it to p=1 — the partition-
    // constrained file probe alone would miss the p=0 file (its partition
    // value no longer matches) and leave the stale row behind as a
    // silent duplicate key
    t.merge(Seq((3L, 1L, "MOVED3")).toDF("k", "p", "payload"))
    t.read().count() shouldBe 300L
    rows(t.read().filter(col("k") === 3L).select("k", "p", "payload")) shouldBe
      Seq(Seq(3L, 1L, "MOVED3"))
    // same through the conditional merge path
    val t2 = mkTableForMerge()
    t2.mergeInto(Seq((6L, 2L, "MOVED6")).toDF("k", "p", "payload"))
    t2.read().count() shouldBe 300L
    rows(t2.read().filter(col("k") === 6L).select("k", "p", "payload")) shouldBe
      Seq(Seq(6L, 2L, "MOVED6"))
    // and a NON-moving partitioned merge still rewrites only its partition
    val t3 = mkTableForMerge()
    t3.merge(Seq((9L, 0L, "KEPT9")).toDF("k", "p", "payload"))
      .rewrittenFiles shouldBe 1
  }

  test("partition-spec evolution: metadata-only commit, eras coexist") {
    val df = (1L to 300L).map(k => (k, k % 3, k % 5, s"v$k"))
      .toDF("k", "p", "q", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 6,
      partitionBy = Seq("p"))
    val before = t.manifest(t.latestVersion).files.map(_.path)
    t.alterPartitioning(Seq("q"))
    val m1 = t.manifest(t.latestVersion)
    m1.partitionCols shouldBe Seq("q")
    m1.statsCols should contain("p") // outgoing spec keeps stats coverage
    m1.files.map(_.path) shouldBe before // ZERO data movement
    // new writes land under the NEW spec's directories
    t.insertAll((301L to 400L).map(k => (k, k % 3, k % 5, s"v$k"))
      .toDF("k", "p", "q", "payload"))
    val newPaths = t.manifest(t.latestVersion).files.map(_.path)
      .filterNot(before.contains)
    newPaths should not be empty
    newPaths.foreach { p =>
      p should include("/q=")
      p should not include "/p="
    }
    // reads are exact across both eras, both columns fully recovered
    t.read().count() shouldBe 400L
    rows(t.read().groupBy("p").count().orderBy("p")) shouldBe
      Seq(Seq(0L, 133L), Seq(1L, 134L), Seq(2L, 133L))
    t.read().filter(col("q") === 2L).count() shouldBe
      (1L to 400L).count(_ % 5 == 2)
    // old-spec partition pruning still fires for old-era files
    val q1 = t.read().filter(col("p") === 1L)
    q1.count() shouldBe (1L to 400L).count(_ % 3 == 1)
    scannedPaths(q1).filter(_.contains("/p="))
      .foreach(_ should include("/p=1/"))
    // new-spec pruning fires for new-era files
    val q2 = t.read().filter(col("q") === 3L)
    scannedPaths(q2).filter(_.contains("/q="))
      .foreach(_ should include("/q=3/"))
    // the format reader serves mixed-era snapshots (projected relation)
    val fmt = spark.read.format("graft-lake").load(t.root)
    fmt.count() shouldBe 400L
    fmt.filter(col("p") === 0L).count() shouldBe
      (1L to 400L).count(_ % 3 == 0)
    // a merge across eras rewrites hit files under the CURRENT spec
    t.merge(Seq((5L, 5L % 3, 5L % 5, "UPD")).toDF("k", "p", "q", "payload"))
    rows(t.read().filter(col("k") === 5L).select("payload")) shouldBe
      Seq(Seq("UPD"))
    t.read().count() shouldBe 400L
    // time travel keeps the pre-evolution snapshot byte-exact
    t.snapshot(0).count() shouldBe 300L
    // evolving BACK to flat: the next full rewrite lands flat files
    t.alterPartitioning(Nil)
    t.compact(2)
    t.manifest(t.latestVersion).files.foreach(
      _.path should fullyMatch regex "data/part-.*\\.parquet")
    t.read().count() shouldBe 400L
    rows(t.read().filter(col("k") === 5L).select("p", "q")) shouldBe
      Seq(Seq(2L, 0L)) // dir-encoded values survived both evolutions
    // refusals: unknown column, the merge key, no-op spec commits nothing
    intercept[IllegalArgumentException](t.alterPartitioning(Seq("nope")))
    intercept[IllegalArgumentException](t.alterPartitioning(Seq("k")))
    val v = t.latestVersion
    t.alterPartitioning(Nil).version shouldBe v
  }

  test("OPTIMIZE MIGRATE folds older layout eras; single-era reads return") {
    val df = (1L to 120L).map(k => (k, k % 3, k % 4, s"v$k"))
      .toDF("k", "p", "q", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 4,
      partitionBy = Seq("p"))
    t.alterPartitioning(Seq("q")) // v1
    t.insertAll((121L to 150L).map(k => (k, k % 3, k % 4, s"v$k"))
      .toDF("k", "p", "q", "payload")) // v2: lands under q=
    // migrate: ONLY the p=-era files rewrite; q=-era files carry
    val before = t.manifest(t.latestVersion).files
    val eraB = before.filter(_.path.contains("/q=")).map(_.path).toSet
    val s = t.compactMigrate()
    s.rewrittenFiles shouldBe before.count(_.path.contains("/p="))
    val after = t.manifest(t.latestVersion).files
    after.map(_.path).toSet.intersect(eraB) shouldBe eraB // carried
    after.foreach { f =>
      f.path should include("/q=")
      f.path should not include "/p="
    }
    // content identical; both columns intact across the rewrite
    t.read().count() shouldBe 150L
    t.read().filter(col("p") === 2L).count() shouldBe
      (1L to 150L).count(_ % 3 == 2)
    t.read().filter(col("q") === 1L).count() shouldBe
      (1L to 150L).count(_ % 4 == 1)
    // single-era again: the format reader takes the raw file relation
    // fast path (its plan resolves to a plain parquet scan)
    val fmt = spark.read.format("graft-lake").load(t.root)
    fmt.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.getClass.getSimpleName
    }.get should include("HadoopFsRelation")
    fmt.count() shouldBe 150L
    // idempotent: nothing foreign -> no commit
    val v = t.latestVersion
    t.compactMigrate().version shouldBe v
    // and SQL reaches it
    withExtendedSession { sess =>
      val df2 = {
        import sess.implicits._
        (1L to 30L).map(i => (i, i % 2, i % 3)).toDF("id", "a", "b")
      }
      val t2 = Lake.createAppendLog(sess, Lake.freshRoot(), df2, 1,
        partitionBy = Seq("a"))
      t2.alterPartitioning(Seq("b"))
      sess.sql(s"OPTIMIZE graft_lake('${t2.root}') MIGRATE").collect()
      t2.manifest(t2.latestVersion).files.foreach(
        _.path should include("/b="))
      t2.read().count() shouldBe 30L
    }
  }

  test("keyless append-log composes with partition-spec evolution") {
    val df = (1L to 60L).map(i => (i, i % 2, i % 3)).toDF("id", "a", "b")
    val t = Lake.createAppendLog(spark, Lake.freshRoot(), df, 2,
      partitionBy = Seq("a"))
    t.manifest(0).files.foreach(_.path should include("/a="))
    t.alterPartitioning(Seq("b")) // v1: metadata-only
    t.insertAll((61L to 90L).map(i => (i, i % 2, i % 3))
      .toDF("id", "a", "b")) // v2: lands under b= dirs
    val newest = t.manifest(t.latestVersion).files.map(_.path)
      .filterNot(t.manifest(0).files.map(_.path).toSet)
    newest.foreach(_ should include("/b="))
    // reads and predicate DML span both eras
    t.read().count() shouldBe 90L
    t.read().filter(col("a") === 1L).count() shouldBe
      (1L to 90L).count(_ % 2 == 1)
    t.deleteWhere(col("b") === 2L) // hits files in BOTH eras
    t.read().filter(col("b") === 2L).count() shouldBe 0L
    t.read().count() shouldBe (1L to 90L).count(_ % 3 != 2)
    // the content-diff feed is exact across the boundary
    val feed = t.changes(2, 3)
    feed.filter(col("_change_type") === "delete").count() shouldBe
      (1L to 90L).count(_ % 3 == 2)
    feed.filter(col("_change_type") === "insert").count() shouldBe 0L
  }

  test("keyed change feed attributes rewrites correctly across spec eras") {
    val df = (1L to 60L).map(k => (k, k % 2, s"v$k")).toDF("k", "a", "payload")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2,
      partitionBy = Seq("a"))
    t.alterPartitioning(Nil) // v1: un-partition, metadata-only
    // a merge rewriting OLD-era files: its feed must pair pre/post by key
    // across the era boundary (removed files hive-encoded, added flat)
    t.merge(Seq((5L, 5L % 2, "UPD"), (100L, 0L, "NEW"))
      .toDF("k", "a", "payload")) // v2
    val feed = t.changes(1, 2)
    feed.filter(col("_change_type") === "insert")
      .select("k").collect().map(_.getLong(0)).toSeq shouldBe Seq(100L)
    feed.filter(col("_change_type") === "update_postimage")
      .select("k", "payload").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSeq shouldBe Seq((5L, "UPD"))
    feed.filter(col("_change_type") === "update_preimage")
      .select("a").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // rewritten-but-identical rows are not changes, even era-crossing
    feed.count() shouldBe 3L
  }

  test("a racing insert never rebases over (and reverts) a spec evolution") {
    // alterPartitioning is a metadata-only non-anchor commit; the rebase
    // fast path must DECLINE when the winner changed partitionCols (or
    // statsCols), else the lost insert's stale copy silently undoes the
    // evolution — the spec-revert hole
    val df = (1L to 60L).map(k => (k, k % 3, k % 5)).toDF("k", "p", "q")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2,
      partitionBy = Seq("p"))
    var raced = false
    t.onBeforeCommit = () => {
      if (!raced) {
        raced = true
        new graft.sources.LakeTable(spark, t.root)
          .alterPartitioning(Seq("q")) // the racing winner: v1
      }
    }
    try {
      // plain insertAll: the race must NOT splice (metadata divergence)
      intercept[java.util.ConcurrentModificationException] {
        t.insertAll(Seq((100L, 1L, 2L)).toDF("k", "p", "q"))
      }
    } finally t.onBeforeCommit = () => ()
    // the evolution survived; a REPLAYED insert lands under the new spec
    t.manifest(t.latestVersion).partitionCols shouldBe Seq("q")
    t.withRetry(t.insertAll(Seq((100L, 1L, 2L)).toDF("k", "p", "q")))
    t.manifest(t.latestVersion).partitionCols shouldBe Seq("q")
    val newest = t.manifest(t.latestVersion).files.map(_.path)
      .filterNot(t.manifest(1).files.map(_.path).toSet)
    newest should not be empty
    newest.foreach(_ should include("/q="))
    t.read().count() shouldBe 61L
  }

  test("partition evolution: deletes and the change feed span eras") {
    val df = (1L to 60L).map(k => (k, k % 2, k % 3)).toDF("k", "a", "b")
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 2,
      partitionBy = Seq("a"))
    t.alterPartitioning(Seq("b")) // v1
    t.insertAll((61L to 90L).map(k => (k, k % 2, k % 3)).toDF("k", "a", "b")) // v2
    // deleteWhere across eras: predicate on a NON-partition-spec column
    t.deleteWhere(col("a") === 1L) // v3 — hits both eras' files
    t.read().count() shouldBe (1L to 90L).count(_ % 2 == 0)
    t.read().filter(col("a") === 1L).count() shouldBe 0L
    // the feed attributes era-spanning changes correctly
    val feed = t.changes(2, 3)
    feed.filter(col("_change_type") === "delete").count() shouldBe
      (1L to 90L).count(_ % 2 == 1)
    feed.filter(col("_change_type") === "insert").count() shouldBe 0L
  }
}
