package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * reuses it via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Whether `df`'s optimized plan restricts a read by an `isin` literal
    * (an `In` or `InSet` predicate) — a probe's bucket-pruning literal. */
  def prunesByLiteral(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: In | _: InSet => true
      case _ => false
    }))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
