package graft

/** Smoke test of the graft.Run CLI (S5 parity): one invocation writes t1–t6
  * CSVs from the public query surface, with a per-run separator. */
class RunSpec extends SparkTestBase {

  test("Run writes a query's CSV with a configurable separator") {
    spark // force the shared session so Run reuses it instead of stopping its own
    val out = java.nio.file.Files.createTempDirectory("graft-run").toString
    Run.run(Array("t1_top10_authors_per_venue", "/root/testdata/sf0.001", out,
      "--sep", "|"))
    val back = spark.read.option("sep", "|").option("header", "true")
      .csv(s"$out/t1_top10_authors_per_venue")
    back.columns.toSeq shouldBe Seq("venue", "author", "cnt")
    back.count() should be > 0L
  }

  test("lake CLI: create/merge/read/tombstone/compact/history round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val root = tmp("graft-cli-lake") + "/t"
    val src = tmp("graft-cli-src")
    (1L to 20L).map(k => (k, s"v$k")).toDF("k", "payload")
      .write.mode("overwrite").parquet(src)
    Run.run(Array("lake-create", root, src, "k", "2"))
    val upd = tmp("graft-cli-upd")
    Seq((5L, "NEW5"), (99L, "INS")).toDF("k", "payload")
      .write.mode("overwrite").parquet(upd)
    Run.run(Array("lake-merge", root, upd))
    val out = tmp("graft-cli-out") + "/snap"
    Run.run(Array("lake-read", root, out))
    val got = spark.read.parquet(out)
    got.count() shouldBe 21L
    rows(got.filter(col("k") === 5L).select("payload")) shouldBe Seq(Seq("NEW5"))
    // time travel through the CLI
    val out0 = tmp("graft-cli-out0") + "/snap0"
    Run.run(Array("lake-read", root, out0, "--version", "0"))
    spark.read.parquet(out0).count() shouldBe 20L
    // merge-on-read tombstone, then compact folds it
    val keys = tmp("graft-cli-keys")
    Seq(5L).toDF("k").write.mode("overwrite").parquet(keys)
    Run.run(Array("lake-tombstone", root, keys))
    Run.run(Array("lake-compact", root, "1"))
    val out2 = tmp("graft-cli-out2") + "/snap2"
    Run.run(Array("lake-read", root, out2))
    spark.read.parquet(out2).count() shouldBe 20L
    // restore and shallow clone through the CLI
    Run.run(Array("lake-restore", root, "0"))
    val cloneRoot = tmp("graft-cli-clone") + "/c"
    Run.run(Array("lake-clone", root, cloneRoot))
    val outc = tmp("graft-cli-outc") + "/snapc"
    Run.run(Array("lake-read", cloneRoot, outc))
    spark.read.parquet(outc).count() shouldBe 20L // the restored v0 content
    // sort-clustering and wall-clock time travel through the CLI
    val t = new graft.sources.LakeTable(spark, root)
    def lastOperation = t.manifest(t.latestVersion).operation
    Run.run(Array("lake-sortby", root, "2", "payload"))
    lastOperation shouldBe "optimize-sortby-payload"
    // z-order and hilbert clustering, metadata-only rename/drop, and a
    // dry-run vacuum (which must mutate nothing)
    Run.run(Array("lake-zorder", root, "2", "k", "k"))
    lastOperation shouldBe "optimize-zorder"
    Run.run(Array("lake-hilbert", root, "2", "k", "k"))
    lastOperation shouldBe "optimize-hilbert-2d"
    Run.run(Array("lake-rename", root, "payload", "note"))
    t.read().columns should contain("note")
    Run.run(Array("lake-drop-column", root, "note"))
    t.read().columns should not contain "note"
    val vBefore = t.latestVersion
    Run.run(Array("lake-vacuum", root, "1", "--dry-run"))
    t.latestVersion shouldBe vBefore
    t.hasVersion(0) shouldBe true
    val outT = tmp("graft-cli-outt") + "/snapt"
    Run.run(Array("lake-read", root, outT,
      "--timestamp", System.currentTimeMillis().toString))
    spark.read.parquet(outT).count() shouldBe 20L
    // history prints one line per committed version, and still
    // works after a vacuum removed the early manifests
    Run.run(Array("lake-history", root))
    Run.run(Array("lake-vacuum", root, "1"))
    Run.run(Array("lake-history", root))
    // bad input fails loudly
    intercept[IllegalArgumentException] { Run.run(Array("lake-nope", root)) }
    intercept[IllegalArgumentException] { Run.run(Array("lake-merge", root)) }
  }

  test("lake CLI: schema DDL verbs and the entity-expansion preprocessor") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val root = tmp("graft-cli-ddl") + "/t"
    val src = tmp("graft-cli-ddl-src")
    (1L to 9L).map(k => (k, k.toInt)).toDF("k", "n")
      .write.mode("overwrite").parquet(src)
    Run.run(Array("lake-create", root, src, "k", "1"))
    Run.run(Array("lake-add-column", root, "tag", "string"))
    Run.run(Array("lake-alter-column", root, "n", "bigint"))
    val t = new graft.sources.LakeTable(spark, root)
    t.read().columns.toSeq shouldBe Seq("k", "n", "tag")
    t.read().schema("n").dataType.typeName shouldBe "long"
    t.read().filter(col("tag").isNotNull).count() shouldBe 0L
    // partition-spec evolution from the CLI: metadata-only both ways
    Run.run(Array("lake-partition-by", root, "n"))
    t.manifest(t.latestVersion).partitionCols shouldBe Seq("n")
    Run.run(Array("lake-partition-by", root))
    t.manifest(t.latestVersion).partitionCols shouldBe empty
    // keyless create via the '-' sentinel admits duplicate appends
    val root2 = tmp("graft-cli-keyless") + "/t"
    Run.run(Array("lake-create", root2, src, "-", "1"))
    val t2 = new graft.sources.LakeTable(spark, root2)
    t2.manifest(0).keyCol shouldBe ""
    t2.insertAll(spark.read.parquet(src))
    t2.read().count() shouldBe 18L
    // expand-entities: line file through the preprocessing verb
    val in = java.nio.file.Files.createTempDirectory("graft-cli-ent")
    java.nio.file.Files.write(in.resolve("a.txt"),
      java.util.Arrays.asList("pre J&uuml;rgen post"))
    val out = tmp("graft-cli-ent-out")
    Run.run(Array("expand-entities", in.resolve("a.txt").toString, out))
    spark.read.text(out).collect().map(_.getString(0)).toSeq shouldBe
      Seq("pre Jürgen post")
    // usage errors refuse before touching data
    intercept[IllegalArgumentException] {
      Run.run(Array("lake-alter-column", root))
    }
    intercept[IllegalArgumentException] { Run.run(Array("expand-entities")) }
  }

  test("Run rejects an unknown query name without touching Spark") {
    the[IllegalArgumentException] thrownBy {
      Run.run(Array("no_such_query", "/root/testdata/sf0.001", "/tmp/x"))
    } should have message "unknown query 'no_such_query' — run `graft.Run list`"
  }
  test("lake CLI: lake-sql routes DML through the injected parser") {
    // the CLI reuses a live session; hand it one WITH the extensions so
    // the injected parser serves the statement (the real CLI builds its
    // own extension session when none exists)
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = GraftSession.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new org.apache.spark.sql.graft.GraftSessionExtensions))
      .getOrCreate()
    try {
      import s2.implicits._
      val t = graft.sources.Lake.create(s2, graft.sources.Lake.freshRoot(),
        (1L to 20L).map(k => (k, s"v$k")).toDF("k", "payload"), "k", 2)
      Run.run(Array("lake-sql",
        "DELETE", "FROM", s"graft_lake('${t.root}')", "WHERE", "k", "<=", "5"))
      t.read().count() shouldBe 15L
      Run.run(Array("lake-sql",
        s"UPDATE graft_lake('${t.root}') SET payload = 'X' WHERE k = 6"))
      t.read().filter(org.apache.spark.sql.functions.col("payload") === "X")
        .count() shouldBe 1L
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
    }
  }
}
