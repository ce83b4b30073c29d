package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()

  /** A fresh directory under java.io.tmpdir (absolute path), deleted with
    * everything in it when the spec ends. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()
}
