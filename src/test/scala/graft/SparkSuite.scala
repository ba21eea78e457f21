package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

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

  private val made = new ConcurrentLinkedQueue[Path]
  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach { dir =>
    try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
  }))

  /** A fresh temp dir, deleted with everything in it when the JVM exits. */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }
}
