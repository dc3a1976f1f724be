package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork),
  * built by [[GraftSession]] so specs run the bench's configuration. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("graft-test",
    // per-JVM dir: a crashed run's leftover managed-table files would
    // otherwise fail every later CTAS into the same fixed path
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` with session confs set, restoring prior values after —
    * the shared session must not leak conf changes across suites. */
  protected def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
