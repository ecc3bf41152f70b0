package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Skew
import graft.sources.Catalog

/** The SQL layer, session-extension function registration, and skew
  * helpers. */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("Catalog.sql runs arbitrary SQL over the registered tables") {
    val r = Catalog.sql(spark, sf,
      """SELECT n_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3""".stripMargin)
    r.count() shouldBe 3L
    r.columns.toSeq shouldBe Seq("n_name", "n")
  }

  test("typed UDAFs are callable from SQL after Catalog.registerFunctions") {
    val r = Catalog.sql(spark, sf,
      """SELECT o_orderpriority,
        |       min5_distinct(o_orderkey) AS smallest,
        |       longest_run(CAST(year(o_orderdate) AS INT)) AS yr_run
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1""".stripMargin)
    val row = r.collect()(0)
    row.getSeq[Long](1).length should be <= 5
    row.getSeq[Long](1) shouldBe row.getSeq[Long](1).sorted
    row.getInt(2) should be >= 1
  }

  test("graft_dot is callable from SQL via SparkSessionExtensions") {
    // A fresh session over the SAME SparkContext with extensions installed
    // (getOrCreate would hand back the default session and skip extension
    // application, so clear and restore the default around it).
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a static conf read from the SparkContext at
      // its creation; with a pre-existing test context, install via the
      // builder's withExtensions hook (same code path the conf triggers).
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new org.apache.spark.sql.graft.GraftSessionExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .collect()(0).getDouble(0)
      r shouldBe 32.0
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("lake table functions: time travel and CDC feed from pure SQL") {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new org.apache.spark.sql.graft.GraftSessionExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import s2.implicits._
      val df = (1L to 90L).map(k => (k, s"val$k")).toDF("k", "payload")
      val t = graft.sources.Lake.create(s2, graft.sources.Lake.freshRoot(),
        df, "k", 3)
      val afterCreate = System.currentTimeMillis()
      t.merge(Seq((5L, "NEW5")).toDF("k", "payload"))
      val afterMerge = System.currentTimeMillis()
      t.delete(Seq(7L).toDF("k"))
      // graft_lake_at: latest by default, any version by literal
      s2.sql(s"SELECT count(*) AS n FROM graft_lake_at('${t.root}')")
        .collect()(0).getLong(0) shouldBe 89L
      s2.sql(s"SELECT payload FROM graft_lake_at('${t.root}', 0) WHERE k = 5")
        .collect()(0).getString(0) shouldBe "val5"
      s2.sql(s"SELECT payload FROM graft_lake_at('${t.root}', 1) WHERE k = 5")
        .collect()(0).getString(0) shouldBe "NEW5"
      // joins and aggregates compose like any table
      s2.sql(
        s"""SELECT a.k FROM graft_lake_at('${t.root}', 0) a
           |LEFT ANTI JOIN graft_lake_at('${t.root}', 2) b ON a.k = b.k
           |""".stripMargin).collect().map(_.getLong(0)).toSeq shouldBe Seq(7L)
      // graft_lake_changes: SQL view of the same feed the API serves
      val feed = s2.sql(
        s"""SELECT k, _change_type FROM graft_lake_changes('${t.root}', 0, 2)
           |ORDER BY k, _change_type""".stripMargin)
      feed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe Seq(
        (5L, "update_postimage"), (5L, "update_preimage"), (7L, "delete"))
      // a STRING second argument is a wall-clock probe (epoch millis or
      // ISO instant), resolved against the in-commit timestamps
      val isoAfterMerge = java.time.Instant.ofEpochMilli(afterMerge).toString
      s2.sql(s"SELECT payload FROM graft_lake_at('${t.root}', '$isoAfterMerge') WHERE k = 5")
        .collect()(0).getString(0) shouldBe "NEW5"
      s2.sql(s"SELECT payload FROM graft_lake_at('${t.root}', '$afterCreate') WHERE k = 5")
        .collect()(0).getString(0) shouldBe "val5"
      // non-literal arguments refuse at analysis, loudly
      val err = intercept[Exception] {
        s2.sql(s"SELECT * FROM graft_lake_at(concat('${t.root}', ''))").collect()
      }
      err.getMessage should include("literal")
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("approximate sketches stay within bound of exact answers") {
    // The bounded-state aggregates for 100 TB cardinality/quantile work:
    // HLL++ count-distinct and approx_percentile. Accuracy asserted against
    // the exact forms on real data.
    val o = graft.sources.Tables.orders(spark, sf)
    val row = o.agg(
      countDistinct(col("o_custkey")).as("exact_cd"),
      approx_count_distinct(col("o_custkey"), 0.02).as("approx_cd"),
      expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_p50"))
      .collect()(0)
    val (exactCd, approxCd) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    math.abs(approxCd - exactCd) / exactCd should be < 0.05
    val (exactP, approxP) = (row.getDouble(2), row.getDouble(3))
    math.abs(approxP - exactP) / exactP should be < 0.05
  }

  test("salted aggregation equals direct groupBy") {
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 37}", i.toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum"))
      .orderBy("k").collect().toSeq.map(_.toSeq)
    val saltedC = Skew.saltedCount(df, Seq(col("k")), salt = 8).orderBy("k")
      .collect().toSeq.map(_.toSeq)
    val saltedS = Skew.saltedSum(df, Seq(col("k")), col("v"), salt = 8).orderBy("k")
      .collect().toSeq.map(_.toSeq)
    saltedC shouldBe direct.map(r => Seq(r(0), r(1)))
    saltedS shouldBe direct.map(r => Seq(r(0), r(2)))
  }
}
