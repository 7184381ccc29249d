package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, scalatest runs
  * suites sequentially within the forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the fork-free local FS GraftSession ships (every suite then
      // exercises it, not just the Verify/Bench mains)
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` on a fresh temp directory and deletes the directory
    * recursively afterwards, whether `f` returned or threw. */
  def withTempDir[T](prefix: String = "graft")(f: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
  }

  /** Fully qualified paths of the parquet files directly under `dir`
    * — the manifest form of files a foreign writer landed there. */
  def parquetFilesIn(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(fs.makeQualified(_).toString)
  }

  /** Cache-lifecycle guard: NO test may leave an entry in the cache
    * manager behind (the round-9 bench regression was exactly such a
    * leak — a persist() with no unpersist() that taxed every query run
    * after it in the same session). Runs after every test in every
    * suite, so a future operator that persists without releasing fails
    * its own spec instead of degrading the whole bench. */
  override protected def afterEach(): Unit = {
    super.afterEach()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cache leak: a test left persisted plans in the cache manager")
  }
}
