package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The artifact protocol of [[FsUtil.publishDir]] on its own, with
  * builders that write one small file instead of running Spark: the
  * races and torn states it must survive are easier to force here than
  * through a real index build. */
class FsUtilSpec extends AnyFunSuite {

  private def withRoot(body: File => Unit): Unit = {
    val root = Files.createTempDirectory("graft-fsutil-spec").toFile
    try body(root) finally FsUtil.deleteTree(root)
  }

  private def payload(dir: File): Option[String] = {
    val f = new File(dir, "payload")
    if (f.isFile) Some(Files.readString(f.toPath)) else None
  }

  private def siblings(dir: File): Seq[String] =
    dir.getParentFile.listFiles().map(_.getName).filter(_.startsWith(dir.getName + ".")).toSeq

  test("two threads resolving one artifact both get the canonical complete path; no temp dir is left") {
    withRoot { root =>
      val dir = new File(root, "graft-race-0123")
      // both builds finish before either publishes, so the renames race
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val results = (0 until 2).map { t =>
          pool.submit(() => FsUtil.publishDir(dir)(payload) { tmp =>
            tmp.mkdirs()
            Files.writeString(new File(tmp, "payload").toPath, s"built")
            barrier.await()
            "built"
          })
        }.map(_.get())
        assert(results.forall(_._1 == dir.getAbsolutePath), s"a resolve did not return the canonical path: $results")
        assert(new File(dir, FsUtil.Marker).isFile, "the published artifact has no marker")
        assert(payload(dir).contains("built"))
        assert(siblings(dir).isEmpty, s"temp or aside dirs left beside the artifact: ${siblings(dir)}")
      } finally pool.shutdown()
    }
  }

  test("a destination dir without the marker is moved aside and rebuilt, never reused") {
    withRoot { root =>
      val dir = new File(root, "graft-torn-0123")
      dir.mkdirs()
      Files.writeString(new File(dir, "payload").toPath, "junk")
      var builds = 0
      def resolve() = FsUtil.publishDir(dir)(payload) { tmp =>
        builds += 1
        tmp.mkdirs()
        Files.writeString(new File(tmp, "payload").toPath, "fresh")
        "fresh"
      }
      assert(resolve() == (dir.getAbsolutePath, "fresh"))
      assert(builds == 1 && FsUtil.artifactStatus(dir.getAbsolutePath) == "built")
      assert(payload(dir).contains("fresh"), "the marker-less dir was reused")
      assert(new File(dir, FsUtil.Marker).isFile)
      assert(siblings(dir).isEmpty, s"the junk dir was not reclaimed: ${siblings(dir)}")
      // the rebuilt artifact is complete: the next resolve finds it
      assert(resolve() == (dir.getAbsolutePath, "fresh"))
      assert(builds == 1 && FsUtil.artifactStatus(dir.getAbsolutePath) == "found")
    }
  }
}
