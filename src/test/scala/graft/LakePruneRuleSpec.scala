package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The injected manifest-pruning optimizer rule (LakeManifestPrune): a
  * PLAIN filter over a lake read must drop manifest-disjoint files from
  * the scan relation at planning time — same answers, fewer files — and
  * must refuse to touch anything it cannot prove prunable. */
class LakePruneRuleSpec extends SparkTestBase {

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

  private def scannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.relation.location.inputFiles)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet

  private def mkTable(s: SparkSession) = {
    import s.implicits._
    val df = (1L to 90L).map(k => (k, s"val$k", "A")).toDF("k", "payload", "status")
    Lake.create(s, Lake.freshRoot(), df, "k", 3) // ranges 1-30, 31-60, 61-90
  }

  test("a plain key-range filter over read() scans only intersecting files") {
    withExtendedSession { s =>
      val t = mkTable(s)
      val q = t.read().filter(col("k").between(40L, 50L))
      scannedFiles(q) should have size 1
      rows(q.orderBy("k")).map(_.head) shouldBe (40L to 50L)
      // point lookup: one file
      val p = t.read().filter(col("k") === 5L)
      scannedFiles(p) should have size 1
      rows(p) shouldBe Seq(Seq(5L, "val5", "A"))
      // open-ended bound: two files survive
      scannedFiles(t.read().filter(col("k") > 35L)) should have size 2
      // flipped literal-first comparison prunes too
      scannedFiles(t.read().filter(lit(35L) < col("k"))) should have size 2
    }
  }

  test("non-key predicates, disjunctions, and foreign files never prune") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // predicate on a non-key column: all files scanned
      scannedFiles(t.read().filter(col("status") === "A")) should have size 3
      // disjunction on the key is NOT a conjunct bound: no pruning
      scannedFiles(t.read().filter(col("k") === 5L || col("k") === 85L)) should
        have size 3
      rows(t.read().filter(col("k") === 5L || col("k") === 85L)
        .orderBy("k")).map(_.head) shouldBe Seq(5L, 85L)
      // a non-lake parquet relation with the same column name is untouched
      import s.implicits._
      val plainDir = java.nio.file.Files.createTempDirectory("graft-plain").toString
      (1L to 10L).map(k => (k, s"x$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")).write.mode("overwrite").parquet(plainDir)
      val plain = s.read.parquet(plainDir).filter(col("k") === 3L)
      scannedFiles(plain).size should be >= 2
      rows(plain) shouldBe Seq(Seq(3L, "x3"))
    }
  }

  test("pruning follows commits: a merge re-points the key range's file") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      t.merge(Seq((5L, "NEW5", "U")).toDF("k", "payload", "status"))
      val q = t.read().filter(col("k") === 5L)
      scannedFiles(q) should have size 1
      rows(q) shouldBe Seq(Seq(5L, "NEW5", "U"))
      // the carried files' names are NOT in the scan
      val carried = t.manifest(0).files.map(_.path).toSet
        .intersect(t.manifest(1).files.map(_.path).toSet)
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
      scannedFiles(q).intersect(carried) shouldBe empty
      // an empty range prunes every file but stays well-typed
      val none = t.read().filter(col("k").between(5000L, 6000L))
      scannedFiles(none) shouldBe empty
      none.count() shouldBe 0L
    }
  }

  test("declared stats columns prune non-key predicates when layout allows") {
    withExtendedSession { s =>
      import s.implicits._
      // v rides the clustering key (v = 10k): disjoint per-file v ranges —
      // the correlated-column case; an uncorrelated column would span
      // every file and prune nothing (what the Z-order lane is for)
      val df = (1L to 90L).map(k => (k, k * 10, s"val$k")).toDF("k", "v", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3, statsCols = Seq("v"))
      t.manifest(0).statsCols shouldBe Seq("v")
      t.manifest(0).files.foreach(_.cols.keySet shouldBe Set("v"))
      val q = t.read().filter(col("v").between(400L, 500L)) // k 40..50: file 2
      scannedFiles(q) should have size 1
      rows(q.orderBy("k")).map(_.head) shouldBe (40L to 50L)
      // key and stats-column conjuncts compose
      scannedFiles(t.read()
        .filter(col("v") === 650L && col("k") === 65L)) should have size 1
      // rewrites carry the stats columns into the next manifest
      t.merge(Seq((5L, 50L, "NEW5")).toDF("k", "v", "payload"))
      t.manifest(1).statsCols shouldBe Seq("v")
      val q2 = t.read().filter(col("v") === 770L)
      scannedFiles(q2) should have size 1
      rows(q2) shouldBe Seq(Seq(77L, 770L, "val77"))
    }
  }

  test("Z-ordered lake + stats columns = automatic 2-D box skipping") {
    // Three r9 features composing with zero new code: cluster the table on
    // the Morton z-value of (x, y), declare x and y as stats columns, and
    // the prune rule skips files for 2-D box predicates — z-clustering is
    // exactly what makes BOTH per-file x and y ranges tight when neither
    // column alone is sorted.
    withExtendedSession { s =>
      import org.apache.spark.sql.graft.ZValue
      import s.implicits._
      val n = 32 // 32×32 grid, 1024 rows, 16 files
      val df = (0L until n * n).map { i => (i % n, i / n, s"cell$i") }
        .toDF("x", "y", "payload")
        .withColumn("z", ZValue.zvalueN(Seq(col("x"), col("y"))))
      val t = Lake.create(s, Lake.freshRoot(), df, "z", 16,
        statsCols = Seq("x", "y"))
      // a vertical strip: x ∈ [4,7], every y — the query shape a
      // single-dimension sort order cannot skip for
      val strip = t.read().filter(col("x").between(4L, 7L))
      val scanned = scannedFiles(strip).size
      scanned should be < 16
      strip.count() shouldBe (4L * n)
      // row-major layout (k = y·n + x): every file holds the full x
      // domain, so the same strip scans the WHOLE table
      val linear = Lake.create(s, Lake.freshRoot(),
        df.withColumn("k", col("y") * n + col("x")), "k", 16,
        statsCols = Seq("x", "y"))
      val linearScanned = scannedFiles(linear.read()
        .filter(col("x").between(4L, 7L))).size
      linearScanned shouldBe 16
      // z-order strictly beats the linear layout on the strip
      scanned should be < linearScanned
    }
  }

  test("the gated lake_range_slice lane scans a pruned subset of the table") {
    withExtendedSession { s =>
      val q = Lake.queries("lake_range_slice")(s, "/root/testdata/sf0.001")
      val lakeFiles = q.queryExecution.sparkPlan.collect {
        case fs: FileSourceScanExec => fs
      }.flatMap(_.relation.location.inputFiles).filter(_.contains("/data/part-"))
      // the table holds 8 files; the [1000, 2000] slice must hit fewer
      lakeFiles.size should be > 0
      lakeFiles.size should be < 8
    }
  }

  test("the SQL path prunes identically: a temp view + spark.sql WHERE clause") {
    withExtendedSession { s =>
      val t = mkTable(s)
      t.read().createOrReplaceTempView("lake_t")
      val q = s.sql("SELECT k, payload FROM lake_t WHERE k BETWEEN 40 AND 50")
      scannedFiles(q) should have size 1
      q.count() shouldBe 11L
      val p = s.sql("SELECT payload FROM lake_t WHERE k = 77")
      scannedFiles(p) should have size 1
      rows(p) shouldBe Seq(Seq("val77"))
    }
  }

  test("compactZOrder: OPTIMIZE ZORDER through the table API enables 2-D skipping") {
    withExtendedSession { s =>
      import s.implicits._
      val n = 32
      // created on a row-major key — the layout that CANNOT skip strips
      val df = (0L until n * n).map { i => (i, i % n, i / n, s"cell$i") }
        .toDF("k", "x", "y", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 16)
      val before = scannedFiles(t.read().filter(col("x").between(4L, 7L))).size
      before shouldBe 16 // no x stats, no pruning
      t.compact(16, Some(("zorder", Seq("x", "y"))))
      t.manifest(t.latestVersion).operation shouldBe "optimize-zorder"
      t.manifest(t.latestVersion).statsCols should contain allOf ("x", "y")
      val strip = t.read().filter(col("x").between(4L, 7L))
      scannedFiles(strip).size should be < before
      strip.count() shouldBe (4L * n)
      // answers unchanged by the rewrite
      t.read().count() shouldBe (n.toLong * n)
      rows(t.read().filter(col("k") === 100L).select("payload")) shouldBe
        Seq(Seq("cell100"))
    }
  }

  test("graft-lake format: snapshot reads, time travel, and pruning compose") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      t.merge(Seq((5L, "NEW5", "U")).toDF("k", "payload", "status"))
      val latest = s.read.format("graft-lake").load(t.root)
      latest.count() shouldBe 90L
      rows(latest.filter(col("k") === 5L).select("payload")) shouldBe Seq(Seq("NEW5"))
      // time travel by option
      val v0 = s.read.format("graft-lake").option("versionAsOf", "0").load(t.root)
      rows(v0.filter(col("k") === 5L).select("payload")) shouldBe Seq(Seq("val5"))
      // the format read is a plain file relation, so the prune rule fires
      scannedFiles(latest.filter(col("k").between(40L, 50L))) should have size 1
      // SQL over the format
      latest.createOrReplaceTempView("lake_fmt")
      rows(s.sql("SELECT payload FROM lake_fmt WHERE k = 42")) shouldBe
        Seq(Seq("val42"))
      // tombstoned snapshots serve through the PROJECTED relation —
      // the read-time anti-join applies, no refusal
      t.deleteDeferred(Seq(7L).toDF("k"))
      val mor = s.read.format("graft-lake").load(t.root)
      mor.count() shouldBe 89L
      mor.filter(col("k") === 7L).count() shouldBe 0L
      // the compacted snapshot goes back to the raw-file fast path
      t.compact(2)
      s.read.format("graft-lake").load(t.root).count() shouldBe 89L
    }
  }

  test("a NARROWING cast on the key never prunes (wrap-around would lie)") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // cast(long k as int) wraps for large keys: bounds on the cast value
      // say nothing about k, so the rule must leave the scan alone
      val q = t.read().filter(col("k").cast("int") === 5)
      scannedFiles(q) should have size 3
      rows(q.select("payload")) shouldBe Seq(Seq("val5"))
      // widening casts stay transparent
      scannedFiles(t.read().filter(col("k").cast("long") === 5L)) should have size 1
    }
  }

  test("conjunct bounds compose and conflicting bounds yield empty scans") {
    withExtendedSession { s =>
      val t = mkTable(s)
      val q = t.read().filter(col("k") >= 31L && col("k") <= 35L &&
        col("status") === "A")
      scannedFiles(q) should have size 1
      rows(q.orderBy("k")).map(_.head) shouldBe (31L to 35L)
      scannedFiles(t.read().filter(col("k") > 50L && col("k") < 20L)) shouldBe empty
    }
  }
  test("IN-list pruning: In, InSet, conjunct composition, strings") {
    withExtendedSession { s =>
      val t = mkTable(s) // ranges 1-30, 31-60, 61-90
      // small IN (below the InSet threshold): members in one file
      val q1 = t.read().filter(col("k").isin(5L, 7L, 11L))
      scannedFiles(q1) should have size 1
      rows(q1.orderBy("k")).map(_.head) shouldBe Seq(5L, 7L, 11L)
      // members spanning two files
      scannedFiles(t.read().filter(col("k").isin(5L, 65L))) should have size 2
      // a big list (InSet conversion) still prunes
      val big = (1L to 25L) :+ 28L
      val q2 = t.read().filter(col("k").isin(big: _*))
      scannedFiles(q2) should have size 1
      q2.count() shouldBe 26L
      // IN composed with a range conjunct: intersection prunes harder
      val q3 = t.read().filter(col("k").isin(5L, 65L) && col("k") < 40L)
      scannedFiles(q3) should have size 1
      rows(q3).map(_.head) shouldBe Seq(5L)
      // members all outside every range: zero files
      scannedFiles(t.read().filter(col("k").isin(200L, 300L))) shouldBe empty
      // string IN over declared string stats after a sort-by layout
      import s.implicits._
      val df2 = (1L to 90L).map(k => (k, f"g${k % 3}%s", s"v$k"))
        .toDF("k", "grp", "payload")
      val t2 = Lake.create(s, Lake.freshRoot(), df2, "k", 3,
        statsCols = Seq("grp"))
      t2.compact(3, Some(("sort", Seq("grp"))))
      val q4 = t2.read().filter(col("grp").isin("g0"))
      scannedFiles(q4).size should be < 3
      q4.count() shouldBe 30L
    }
  }

  test("IS NULL / IS NOT NULL pruning via per-file null counts") {
    withExtendedSession { s =>
      import s.implicits._
      // keys 1-30: tag null; 31-60: mixed; 61-90: all non-null
      val df = (1L to 90L).map { k =>
        val tag = if (k <= 30) None
          else if (k <= 60) (if (k % 2 == 0) Some(s"t$k") else None)
          else Some(s"t$k")
        (k, tag, s"v$k")
      }.toDF("k", "tag", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3,
        statsCols = Seq("tag"))
      // IS NULL skips the all-non-null file
      val qNull = t.read().filter(col("tag").isNull)
      scannedFiles(qNull) should have size 2
      qNull.count() shouldBe 45L
      // IS NOT NULL skips the all-null file
      val qNotNull = t.read().filter(col("tag").isNotNull)
      scannedFiles(qNotNull) should have size 2
      qNotNull.count() shouldBe 45L
      // and the implicit IsNotNull of an equality filter composes with
      // the string bounds: an impossible value scans nothing... a real
      // one skips the all-null file at minimum
      val qEq = t.read().filter(col("tag") === "t62")
      scannedFiles(qEq).size should be <= 1
      qEq.count() shouldBe 1L
    }
  }

  test("gated lane: lake_inlist_pruning scans a strict file subset") {
    withExtendedSession { s =>
      val df = Lake.lakeInlistPruning(s, "/root/testdata/sf0.001")
      df.count() should be > 0L
    }
  }
  test("metadata-only aggregates: count/min/max answered with ZERO file scan") {
    withExtendedSession { s =>
      import s.implicits._
      val df = (1L to 90L).map { k =>
        (k, if (k % 3 == 0) None else Some(k * 2), k / 1.7, s"v$k")
      }.toDF("k", "m", "d", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3,
        statsCols = Seq("m", "d"))
      val q = t.read().agg(
        count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
        count(col("m")).as("nm"), min("m").as("mnm"))
      // the whole aggregate collapsed to a LocalRelation: no file scan
      scannedFiles(q) shouldBe empty
      q.queryExecution.executedPlan.toString should include("LocalTableScan")
      rows(q) shouldBe Seq(Seq(90L, 1L, 90L, 60L, 2L))
      // a FILTERED aggregate keeps scanning (the rule must not match)
      val qf = t.read().filter(col("k") > 10L).agg(count(lit(1)).as("n"))
      scannedFiles(qf) should not be empty
      rows(qf) shouldBe Seq(Seq(80L))
      // min/max over a DOUBLE column must NOT answer from stats (the
      // Long stat units truncate) — the scan stays, the answer is exact
      val qd = t.read().agg(min("d").as("mnd"))
      scannedFiles(qd) should not be empty
      rows(qd) shouldBe Seq(Seq(1 / 1.7))
      // outstanding tombstones disable the rule automatically (the
      // read wraps in an anti-join, so the shape never matches)
      t.deleteDeferred(Seq(5L).toDF("k"))
      val qt = t.read().agg(count(lit(1)).as("n"))
      rows(qt) shouldBe Seq(Seq(89L))
      // SQL path: count(*) over the format relation collapses too
      t.compact(2)
      s.read.format("graft-lake").load(t.root).createOrReplaceTempView("meta_t")
      val qsql = s.sql("SELECT count(*) AS n, max(k) AS mx FROM meta_t")
      scannedFiles(qsql) shouldBe empty
      rows(qsql) shouldBe Seq(Seq(89L, 90L))
    }
  }
  test("metadata aggregates: GROUP BY partition column with zero file scan") {
    withExtendedSession { s =>
      import s.implicits._
      val df = (1L to 90L).map(k => (k, k % 3, s"v$k")).toDF("k", "p", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 2,
        partitionBy = Seq("p"))
      val q = t.read().groupBy("p")
        .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
        .orderBy("p")
      scannedFiles(q) shouldBe empty
      q.queryExecution.executedPlan.toString should include("LocalTableScan")
      rows(q) shouldBe Seq(
        Seq(0L, 30L, 3L, 90L), Seq(1L, 30L, 1L, 88L), Seq(2L, 30L, 2L, 89L))
      // grouping by a NON-degenerate column (the key spans ranges) must
      // NOT collapse — the scan stays and stays correct
      val qk = t.read().groupBy((col("k") % 2).as("b"))
        .agg(count(lit(1)).as("n")).orderBy("b")
      rows(qk) shouldBe Seq(Seq(0L, 45L), Seq(1L, 45L))
      // grouped + whole-file-covered FILTER compose: per-partition counts
      // over a partition subset, still zero scan
      val qgf = t.read().filter(col("p") >= 1L).groupBy("p")
        .agg(count(lit(1)).as("n")).orderBy("p")
      scannedFiles(qgf) shouldBe empty
      rows(qgf) shouldBe Seq(Seq(1L, 30L), Seq(2L, 30L))
    }
  }
  test("metadata aggregates: whole-file-covered FILTER answers from stats") {
    withExtendedSession { s =>
      import s.implicits._
      val df = (1L to 90L).map(k => (k, k % 3, s"v$k")).toDF("k", "p", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 2,
        partitionBy = Seq("p"))
      // partition equality: every surviving file is WHOLLY inside
      val q = t.read().filter(col("p") === 1L)
        .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
      scannedFiles(q) shouldBe empty
      q.queryExecution.executedPlan.toString should include("LocalTableScan")
      rows(q) shouldBe Seq(Seq(30L, 1L, 88L))
      // a filter that PARTIALLY covers a file keeps scanning — never a
      // wrong fast answer
      val qp = t.read().filter(col("k") > 10L).agg(count(lit(1)).as("n"))
      scannedFiles(qp) should not be empty
      rows(qp) shouldBe Seq(Seq(80L))
      // a KEY-range filter ALIGNED on file boundaries collapses: an
      // unpartitioned create clusters DISJOINT ranges, so a <=-boundary
      // predicate wholly covers its file and wholly misses the rest
      val t2 = Lake.create(s, Lake.freshRoot(),
        (1L to 90L).map(k => (k, s"v$k")).toDF("k", "payload"), "k", 3)
      val boundary = t2.manifest(t2.latestVersion).files.map(_.maxKey).min
      val qa = t2.read().filter(col("k") <= boundary)
        .agg(count(lit(1)).as("n"))
      scannedFiles(qa) shouldBe empty
      rows(qa) shouldBe Seq(Seq(boundary))
      // filtered-EMPTY global aggregate: one row, count 0, null min/max
      val qe = t2.read().filter(col("k") > 1000L)
        .agg(count(lit(1)).as("n"), max("k").as("mx"))
      scannedFiles(qe) shouldBe empty
      val er = qe.collect()(0)
      er.getLong(0) shouldBe 0L
      er.isNullAt(1) shouldBe true
    }
  }

  test("STRING merge key: equality and range predicates prune files") {
    withExtendedSession { s =>
      import s.implicits._
      // 'doc-0001'..'doc-0090', range-clustered into 3 files at create —
      // the KEY auto-joins the truncated-string stats, so a plain filter
      // on it skips manifest-disjoint files with no sort-by, no declared
      // statsCols, exactly like an integral key
      val df = (1L to 90L).map(k => (f"doc-$k%04d", s"val$k"))
        .toDF("k", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3)
      val q1 = t.read().filter(col("k") === "doc-0005")
      scannedFiles(q1).size shouldBe 1
      q1.count() shouldBe 1L
      val q2 = t.read().filter(col("k") >= "doc-0070")
      scannedFiles(q2).size shouldBe 1
      q2.count() shouldBe 21L
      val q3 = t.read().filter(col("k").isin("doc-0001", "doc-0089"))
      scannedFiles(q3).size shouldBe 2
      q3.count() shouldBe 2L
      // a miss outside every file's bounds scans nothing
      scannedFiles(t.read().filter(col("k") === "zzz")) shouldBe empty
    }
  }
}
