package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** One shared local session for the whole test run. */
object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one source of a suite's fixture dirs: owner-tagged, so the
    * dirs of a killed run are reclaimable by their dead owner's pid,
    * and deleted when the test that made them ends, pass or fail. */
  trait TempDirs extends TestSuite {
    private val fixtures = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    protected def tempDir(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"${prefix}_${FsUtil.ownerTag}").toFile
      fixtures.add(d)
      d.toString
    }
    abstract override def withFixture(test: NoArgTest): Outcome =
      try super.withFixture(test)
      finally while (!fixtures.isEmpty) FsUtil.deleteTree(fixtures.poll())
  }
}
