package graft

import org.apache.spark.sql.SparkSession

/** Shared session for Spark-backed suites (one JVM-wide session). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "4g")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh temp dir, deleted with everything in it when the JVM exits. */
  def tmpDir(prefix: String): String = SparkEntry.tmpDir(prefix)

  /** The exception a test throws to stop a mutation after one step. */
  final class Crash(step: String) extends RuntimeException(s"crash after $step")

  /** Runs `body`, stopped by a [[Crash]] right after the first mutation
    * step (see [[graft.index.Commit.onStep]]) that `at` matches. */
  def crashAt(at: String => Boolean)(body: => Any): Unit = {
    graft.index.Commit.onStep = s => if (at(s)) throw new Crash(s)
    try org.scalatest.Assertions.intercept[Crash](body)
    finally graft.index.Commit.onStep = _ => ()
  }
}
