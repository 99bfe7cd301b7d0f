package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup is ~5 s, per-suite sessions would dominate test time). */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Pinned to 4 cores: the suite's expectations are sized for local[4],
    * whatever SPARK_GRAFT_CPUS the surrounding run exports. */
  lazy val session: SparkSession = GraftSession(cores = 4)
}
