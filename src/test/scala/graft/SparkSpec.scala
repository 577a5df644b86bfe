package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one session per suite. Built
  * through [[GraftSession.builder]], so specs run the engine's confs
  * (extensions, UTC, codegen cache size), plus one test-only conf.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder("graft-test", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      // a whole-stage codegen compile failure fails the spec instead of
      // falling back to the interpreted path unnoticed
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
