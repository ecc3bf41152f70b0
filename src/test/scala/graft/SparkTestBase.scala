package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs (one JVM-wide session; forked test
  * JVM gets the JDK17 --add-opens from build.sbt). */
trait SparkTestBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestBase.session
  import org.apache.spark.sql.{DataFrame, Row}

  /** Rows of a small result, fully collected and listed for assertion. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** `T` expressions in the optimized plan, subqueries included; plans
    * only, runs no job. */
  def optimizedExprCount[T <: Expression](df: DataFrame)(implicit t: ClassTag[T]): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case p => p.expressions.map(_.collect { case e if t.runtimeClass.isInstance(e) => e }.size).sum
    }.sum
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
