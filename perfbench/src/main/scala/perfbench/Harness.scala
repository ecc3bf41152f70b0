package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: session start, workload set-up (several
  * times, the median is reported), warm-up, then the timed batches of a
  * single closed-loop client, as many as fit the run's seconds. With
  * `--trace 1` the run alternates untraced and traced batches (a fixed
  * number of each) and adds the per-layer numbers.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --work DIR --out FILE [--plan FILE]
  *
  * The result file holds raw samples; `perfbench/run.py` turns them into
  * the metrics and runs the output checks. */
object Harness {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val spark = session(o("work"))
    // from JVM start, so JVM boot counts as set-up
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val wl: Workload = o("workload") match {
      case "dblp_xml_six" => new DblpSix(spark, o("data"), o("work"))
      case "lake_commit_mv" => new LakeCommitMv(spark, o("data"), o("work"), o("plan"))
      case w => sys.error(s"unknown workload $w")
    }
    val setupS = (0 until SetupReps).map(r => timeS(wl.setup(r)))
    val warmupS = timeS(wl.warmup())

    val untraced = mutable.ArrayBuffer[Batch]()
    val traced = mutable.ArrayBuffer[Batch]()
    val layers = mutable.LinkedHashMap[String, Double]()
    if (!trace) {
      // a fixed number of batches for the given seconds, so that every run
      // with the same seconds measures the same work
      val n = math.max(wl.minBatches, (seconds / wl.nominalBatchS).toInt)
      while (untraced.size < n && wl.hasBatch(untraced.size))
        untraced += Jvm.withCpu(wl.batch(untraced.size, new Tracer(false)))
    } else {
      val tr = new Tracer(true)
      val probe = new SparkProbe(spark)
      val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
      var gcS = 0.0
      var i = 0
      while (i < wl.tracedBatches && wl.hasBatch(2 * i + 1)) {
        untraced += Jvm.withCpu(wl.batch(2 * i, new Tracer(false)))
        probe.attach()
        val (before, ms0) = probe.snapshot()
        val gc0 = Jvm.gcSeconds
        val b = wl.batch(2 * i + 1, tr, Some(probe))
        gcS += Jvm.gcSeconds - gc0
        val (after, ms1) = probe.snapshot()
        probe.detach()
        traced += b
        after.foreach { case (k, v) => sums(k) += v - before.getOrElse(k, 0.0) }
        sums("spark.job_busy_s") += probe.busyMs(ms0, ms1) / 1000.0
        sums("spark.driver_gap_s") +=
          b.wallS - probe.busyMs(ms0, ms1) / 1000.0
        i += 1
      }
      wl.traceExtras(tr, traced.size)
      (SparkProbe.Counters ++ Seq("spark.job_busy_s", "spark.driver_gap_s"))
        .foreach(k => layers(k) = sums(k))
      layers("spark.gc_s") = gcS
      layers ++= commonLayers(tr)
      layers ++= wl.layers(tr)
      layers("jvm.peak_heap_mb") = Jvm.peakHeapMb
      layers("trace.overhead_s") =
        median(traced.map(_.wallS).toSeq) - median(untraced.map(_.wallS).toSeq)
      tr.writeJsonl(s"${o("work")}/trace.jsonl")
      tr.selfSeconds.toSeq.sortBy(-_._2).take(12).foreach { case (n, s) =>
        System.err.println(f"self time $n%-28s $s%9.3f s")
      }
    }
    val check = wl.check()

    val all = untraced ++ traced
    val out = Json.obj(
      "session_s" -> sessionS,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "batches" -> untraced.map(_.toMap),
      "traced_batches" -> traced.map(_.toMap),
      "attempted" -> (all.map(_.ops.size).sum + wl.warmupAttempted),
      "errors" -> (all.map(_.errors.size).sum + wl.warmupErrors.size),
      "error_messages" -> (all.flatMap(_.errors) ++ wl.warmupErrors).take(20),
      "layers" -> layers,
      "check" -> check)
    java.nio.file.Files.write(java.nio.file.Paths.get(o("out")), out.getBytes("UTF-8"))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graft.GraftSessionExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.catalog.dir", s"$work/catalog"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Layer numbers every workload defines the same way, from the spans. */
  def commonLayers(tr: Tracer): Seq[(String, Double)] =
    Seq("queries.build_s" -> tr.seconds("queries.build"),
      "queries.exec_s" -> tr.seconds("queries.exec"),
      "sinks.write_s" -> tr.seconds("sinks.writeCsv")) ++
      (1 to 6).map(i => s"queries.t${i}_s" -> tr.secondsMatching(n =>
        n == s"op:t$i" || n.startsWith(s"op:t${i}_")))

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    since(t0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** One timed operation: its kind and latency. */
final case class Op(kind: String, ms: Double)

/** One batch: wall time (minus any measurement-only work done inside a
  * traced batch), CPU time of the whole JVM less JIT compilation
  * (`Jvm.withCpu`), its operations, errors, and the input records it
  * processed. */
final case class Batch(wallS: Double, ops: Seq[Op], errors: Seq[String],
                       records: Double, cpuS: Double = Double.NaN) {
  def toMap: Map[String, Any] = Map(
    "wall_s" -> wallS, "cpu_s" -> cpuS, "records" -> records,
    "errors" -> errors.size,
    "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms)))
}

abstract class Workload(val spark: SparkSession) {
  /** Batches every untraced run measures, even past its seconds. */
  def minBatches: Int = 2
  /** About how long one batch takes: a run of S seconds measures
    * max(minBatches, S / nominalBatchS) batches. */
  def nominalBatchS: Double
  /** Traced batches (each paired with an untraced one) in a traced run. */
  def tracedBatches: Int = 1
  def hasBatch(i: Int): Boolean = true
  def setup(rep: Int): Unit = ()
  def warmup(): Unit
  def batch(i: Int, tr: Tracer, probe: Option[SparkProbe] = None): Batch
  /** Measurement-only passes after the traced batches (`n` of them ran). */
  def traceExtras(tr: Tracer, n: Int): Unit = ()
  /** Per-layer numbers this workload defines; run.py reports 0 for a
    * listed name no workload code sets (the layer was not called). */
  def layers(tr: Tracer): Map[String, Double] = Map.empty
  /** Writes the artifacts run.py checks; returns what it needs to know. */
  def check(): Map[String, Any]

  val warmupErrors = mutable.ArrayBuffer[String]()
  var warmupAttempted = 0

  /** Runs one operation, timing it and turning a throw into an error. */
  protected def runOp(tr: Tracer, kind: String, ops: mutable.Buffer[Op],
                      errors: mutable.Buffer[String])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try tr.op(s"op:$kind")(body)
    catch {
      case e: Throwable =>
        errors += s"$kind: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    ops += Op(kind, (System.nanoTime() - t0) / 1e6)
  }

  protected def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
