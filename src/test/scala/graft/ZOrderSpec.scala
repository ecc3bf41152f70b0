package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ZValue

/** Curve clustering kernels: the Morton interleave (`ZValueN`) against a
  * naive bit loop and its codegen parity, the Hilbert index's curve
  * properties, and Hilbert-vs-Morton pruning on a lake table. The 2-D
  * skipping claim of z-ordered lake files lives in `LakePruneRuleSpec`. */
class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("interleave matches a naive bit loop on random and edge values") {
    def naive(a: Long, b: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rnd = new scala.util.Random(9)
    val edges = Seq(0L, 1L, 2L, 0x7fffffffL, 0x40000000L, 12345L)
    val pairs = (for (a <- edges; b <- edges) yield (a, b)) ++
      Seq.fill(500)((rnd.nextLong() & 0x7fffffffL, rnd.nextLong() & 0x7fffffffL))
    pairs.foreach { case (a, b) =>
      withClue(s"($a,$b): ") {
        ZValue.interleaveN(Array(a, b)) shouldBe naive(a, b)
      }
    }
    // locality sanity: the z-curve nests quadrants — everything in the
    // low quadrant sorts before anything with a high bit set in either key
    ZValue.interleaveN(Array(0x3fffffffL, 0x3fffffffL)) should be <
      ZValue.interleaveN(Array(0x40000000L, 0L))
  }

  test("zvalue column: codegen result equals the driver-side interleave") {
    // a range scan (not a local relation, which constant-folds the
    // projection on the driver) so the generated code actually runs
    val df = spark.range(2000)
      .select((col("id") % 97).as("a"), (col("id") % 89).as("b"))
    val got = df.select(col("a"), col("b"),
        ZValue.zvalueN(Seq(col("a"), col("b"))).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) => z shouldBe ZValue.interleaveN(Array(a, b)) }
    // and the expression stays inside whole-stage codegen (the starred
    // operator prefix in the plan print marks the codegen span)
    val plan = df.select(ZValue.zvalueN(Seq(col("a"), col("b"))))
      .queryExecution.executedPlan.toString
    plan should include regex """\*\(\d+\) Project \[graft_zvalue_n"""
  }

  test("hilbert index: bijective on a grid and unit-adjacent along the curve") {
    import org.apache.spark.sql.graft.Hilbert
    // 2-D, 16x16 grid through the 31-bit kernel: every cell gets a
    // distinct index, and consecutive indices are ALWAYS one unit apart
    // in exactly one coordinate — the defining Hilbert property (Morton
    // violates it at every power-of-two boundary)
    val byIndex = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (a <- 0L until 16L; b <- 0L until 16L) {
      val h = Hilbert.hilbertN(Array(a, b))
      byIndex.put(h, (a, b)) shouldBe None // injective
    }
    byIndex.keySet.max should be < (1L << 62)
    // the 16x16 sub-square of the full 31-bit curve is traversed in 256
    // consecutive index values iff the curve enters it once — it does,
    // because the grid is the curve's own first-order subdivision; check
    // adjacency over the SORTED indices instead of assuming contiguity
    val sorted = byIndex.keys.toSeq.sorted
    sorted.sliding(2).foreach { case Seq(i, j) =>
      if (j == i + 1) {
        val (a1, b1) = byIndex(i)
        val (a2, b2) = byIndex(j)
        (math.abs(a1 - a2) + math.abs(b1 - b2)) shouldBe 1L
      }
    }
    // and the curve IS contiguous on a power-of-two grid
    sorted shouldBe (0L until 256L)
    // 3-D spot check: still injective on a 8^3 grid
    val seen3 = scala.collection.mutable.Set.empty[Long]
    for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      seen3.add(Hilbert.hilbertN(Array(a, b, c))) shouldBe true
  }

  test("hilbert column: codegen result equals the driver-side kernel") {
    val df = spark.range(500).select(
      org.apache.spark.sql.graft.Hilbert.hilbert(Seq(
        col("id"), col("id") * 3 % 97, col("id") * 7 % 89)).as("h"),
      col("id"))
    df.collect().foreach { r =>
      r.getLong(0) shouldBe org.apache.spark.sql.graft.Hilbert.hilbertN(
        Array(r.getLong(1), r.getLong(1) * 3 % 97, r.getLong(1) * 7 % 89))
    }
  }

  test("hilbert clustering prunes 3-D boxes at least as well as morton") {
    import graft.sources.Lake
    // three interleaved dimensions, none correlated with the key — the
    // same fixture as the 3-D z-order lane
    val df = (0L until 4096L).map { i =>
      (i, (i * 7) % 64, (i * 13) % 64, (i * 29) % 64)
    }.toDF("k", "a", "b", "c")
    def scannedUnder(opt: graft.sources.LakeTable => Unit): Long = {
      val t = Lake.create(spark, Lake.freshRoot(), df, "k", 8)
      opt(t)
      t.read().filter(col("a") < 16 && col("b") < 16 && col("c") < 16)
        .select(input_file_name()).distinct().count()
    }
    val hilbertScanned = scannedUnder(_.compact(8, Some(("hilbert", Seq("a", "b", "c")))))
    val mortonScanned = scannedUnder(_.compact(8, Some(("zorder", Seq("a", "b", "c")))))
    hilbertScanned should be <= mortonScanned
    hilbertScanned should be < 8L
    // correctness: the clustered relation answers exactly like the raw one
    val t = Lake.create(spark, Lake.freshRoot(), df, "k", 8)
    t.compact(8, Some(("hilbert", Seq("a", "b", "c"))))
    t.read().filter(col("a") < 16 && col("b") < 16 && col("c") < 16)
      .count() shouldBe
      df.filter(col("a") < 16 && col("b") < 16 && col("c") < 16).count()
    t.manifest(t.latestVersion).operation shouldBe "optimize-hilbert-3d"
    t.read().count() shouldBe 4096L
  }
}
