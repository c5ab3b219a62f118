package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local SparkSession for all suites (sbt forks one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Temp directories of a suite, deleted with their trees after the
    * suite, so repeated runs do not fill the temp filesystem. */
  trait TempDirs extends BeforeAndAfterAll { this: Suite =>
    private val made = new ConcurrentLinkedQueue[Path]

    /** A new directory under the system temp dir, named `prefix…`. */
    def tempPath(prefix: String): Path = {
      val p = Files.createTempDirectory(prefix)
      made.add(p)
      p
    }

    def tempDir(prefix: String): String = tempPath(prefix).toString

    override def afterAll(): Unit =
      try super.afterAll()
      finally made.forEach(p => org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile): Unit)
  }
}
