package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Local profiling aid (guide §1): run one or more registry lanes and
  * report WHERE the wall-clock goes at SQL-execution granularity — each
  * action's total wall (planning + all its AQE stage jobs), its summed
  * job time, and its call-site description — so a "this lane is slow"
  * claim can be attributed to a specific action (a localCheckpoint, a
  * count, a commit write) instead of guessed at. Never run by the
  * driver; bench methodology is unchanged (graft.Bench owns the round's
  * numbers).
  *
  * Usage: runMain graft.JobProfile <lane> [lane …]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSessionExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id % 7)").collect()

    case class E(id: Long, desc: String, t0: Long, var t1: Long = -1,
                 var nJobs: Int = 0, var jobNs: Long = 0)
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, E]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[E]()
    val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val ex = E(s.executionId, s.description, System.nanoTime())
          execs.put(s.executionId, ex); order.add(ex)
        case s: SparkListenerSQLExecutionEnd =>
          val ex = execs.get(s.executionId)
          if (ex != null) ex.t1 = System.nanoTime()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exId = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).getOrElse(-1L)
        jobT0.put(e.jobId, (exId, System.nanoTime()))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobT0.get(e.jobId)
        if (j != null) {
          val ex = execs.get(j._1)
          if (ex != null) { ex.nJobs += 1; ex.jobNs += System.nanoTime() - j._2 }
        }
      }
    }

    args.foreach { lane =>
      val fn = SparkEntry.queries(lane)
      // pass 1: warm (codegen, page cache) — not profiled
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      execs.clear(); order.clear(); jobT0.clear(); stages.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val es = order.asScala.toSeq.filter(_.t1 > 0)
      val execWall = es.map(e => e.t1 - e.t0).sum / 1e9
      println(f"%nLANE $lane wall=$wall%.2fs execs=${es.size} " +
        f"execWallSum=$execWall%.2fs jobSum=${es.map(_.jobNs).sum / 1e9}%.2fs " +
        s"jobs=${jobT0.size} stages=${stages.get}")
      val byDesc = es.groupBy(_.desc).map { case (s, g) =>
        (s, g.size, g.map(e => e.t1 - e.t0).sum / 1e9,
          g.map(_.jobNs).sum / 1e9, g.map(_.nJobs).sum) }
        .toSeq.sortBy(-_._3)
      println("  -- by action (execs, wall, jobtime, jobs) --")
      byDesc.take(30).foreach { case (s, n, w, jt, nj) =>
        println(f"  $w%7.2fs jt=$jt%6.2fs  n=$n%-3d jobs=$nj%-4d ${s.take(90)}") }
      println("  -- slowest single executions --")
      es.sortBy(e => -(e.t1 - e.t0)).take(15).foreach { e =>
        println(f"  ${(e.t1 - e.t0) / 1e9}%7.2fs jt=${e.jobNs / 1e9}%6.2fs " +
          f"jobs=${e.nJobs}%-3d ${e.desc.take(90)}") }
    }
    spark.stop()
  }
}
