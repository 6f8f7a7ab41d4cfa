package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + testdata paths for all specs (sf0.001 for speed). */
object TestBase {
  lazy val spark: SparkSession = GraftSession.get(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestBase.spark
  def sfDir: String = TestBase.sfDir

  def run(name: String): org.apache.spark.sql.DataFrame =
    Registry.byName(name).run(spark, sfDir)

  /** Evaluate `body` under a forced Catalyst evaluation mode
    * (`CODEGEN_ONLY` or `NO_CODEGEN`) so both the generated-Java and
    * interpreted paths are exercised explicitly.
    */
  def underMode[A](mode: String)(body: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(key, "FALLBACK")
    spark.conf.set(key, mode)
    try body finally spark.conf.set(key, prev)
  }

  /** Formatted physical plan text for plan-shape assertions. */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }
}
