package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.{Lake, LakeManifestPrune, LakeTable}

/** Lake METADATA scale audit — the artifact behind the delta-manifest
  * design: measure, against table file counts spanning three decades, what
  * a steady-state one-file commit costs (manifest bytes + wall time) and
  * what resolving the latest snapshot costs warm (post-commit cache, the
  * planning path every query takes) and cold (fresh JVM shape: anchor +
  * delta replay, checkpoint included). A full-snapshot manifest design —
  * what this replaced — pays the `full_bytes` column on EVERY commit and
  * re-parses it on every planning pass; the delta design pays `delta_bytes`
  * (O(changed files), flat across all sizes) and warm resolution is a
  * cache hit.
  *
  * File entries are synthetic (metadata only): commit and resolution never
  * touch data files, so the measurement isolates exactly the layer the
  * knob sheet sizes at ~400k files / 100 TB. The checkpoint write at the
  * default interval is INCLUDED in the commit-time average — it is part of
  * the steady-state cost.
  *
  * Usage: runMain graft.LakeScale <outFile>
  */
object LakeScale {
  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("LAKE_SCALE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // five decades to the 100 TB design point and beyond: ~400k files at
    // 256 MB parquet targets; the 1M point is the stress envelope a
    // pathological small-file table (or 1 PB at the same target) implies
    val sizes = Seq(1000, 4000, 16000, 64000, 256000, 1000000)
    val commitsPerPoint = 20

    val points = sizes.map { n =>
      val root = Lake.freshRoot()
      val t = new LakeTable(spark, root)
      val entries = (0 until n).map(i =>
        Lake.FileEntry(f"data/part-synth-$i%06d.parquet", 1000L,
          i * 1000L, i * 1000L + 999L))
      t.commitAndIndex(Lake.Delta(0, -1, "create", "k", Nil, Nil,
        full = true, adds = entries, removes = Nil,
        tombstoneAdds = Nil, tombstoneRemoves = Nil))
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def manifestBytes(v: Int): Long =
        fs.getFileStatus(new Path(root, f"_manifests/v$v%05d.json")).getLen

      // steady state: one-file merges (remove one entry, add one), the
      // shape a streaming mergeEpoch sink commits all day
      var deltaBytes = 0L
      val tCommit0 = System.nanoTime()
      (1 to commitsPerPoint).foreach { v =>
        val add = Lake.FileEntry(f"data/part-new-$v%05d.parquet", 1000L,
          (v - 1) * 1000L, (v - 1) * 1000L + 999L)
        t.commitAndIndex(Lake.Delta(v, v - 1, "merge", "k", Nil, Nil,
          full = false, adds = Seq(add), removes = Seq(entries(v - 1).path),
          tombstoneAdds = Nil, tombstoneRemoves = Nil))
        deltaBytes += manifestBytes(v)
      }
      val commitMs = (System.nanoTime() - tCommit0) / 1e6 / commitsPerPoint

      // warm planning-path resolution: the cache the commit just indexed
      val latest = t.latestVersion
      val tWarm0 = System.nanoTime()
      (1 to 50).foreach(_ => t.manifest(latest))
      val warmMs = (System.nanoTime() - tWarm0) / 1e6 / 50

      // cold resolution: fresh-JVM shape — walk to the anchor (v16
      // checkpoint at the default interval), replay the delta suffix
      Lake.clearMetadataCaches()
      val tCold0 = System.nanoTime()
      t.manifest(latest)
      val coldMs = (System.nanoTime() - tCold0) / 1e6

      // prune-rule stats fold: cold (all deltas + checkpoints) then warm
      Lake.clearMetadataCaches()
      val tStats0 = System.nanoTime()
      val stats = LakeManifestPrune.statsFor(spark, new Path(root))
      val statsColdMs = (System.nanoTime() - tStats0) / 1e6
      require(stats.size >= n, s"stats fold lost entries: ${stats.size} < $n")
      val tStats1 = System.nanoTime()
      (1 to 50).foreach(_ => LakeManifestPrune.statsFor(spark, new Path(root)))
      val statsWarmMs = (System.nanoTime() - tStats1) / 1e6 / 50

      // the counterfactual: what every commit would write (and every cold
      // planning pass would parse) under the old full-snapshot design
      val fullBytes = Lake.toJson(Lake.Manifest(latest, latest - 1, "merge",
        "k", t.manifest(latest).files)).length.toLong

      // the checkpoint anchor's on-disk size — the driver-materialization
      // envelope SCALING.md derives bytes/entry from
      val ckptBytes = fs.listStatus(new Path(root, "_manifests")).iterator
        .filter(_.getPath.getName.endsWith(".ckpt.parquet"))
        .map(_.getLen).maxOption.getOrElse(0L)

      f"""{"files":$n,"delta_bytes_avg":${deltaBytes / commitsPerPoint},"full_snapshot_bytes":$fullBytes,"ckpt_bytes":$ckptBytes,"commit_ms":$commitMs%.2f,"resolve_warm_ms":$warmMs%.3f,"resolve_cold_ms":$coldMs%.1f,"stats_cold_ms":$statsColdMs%.1f,"stats_warm_ms":$statsWarmMs%.3f}"""
    }

    val json =
      s"""{"machine":"builder","protocol":"lake-metadata-v1","commits_per_point":$commitsPerPoint,"checkpoint_interval":16,"points":[${points.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile")
    spark.stop()
  }
}
