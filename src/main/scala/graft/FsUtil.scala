package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one durable-artifact layer: every fingerprint-keyed index,
  * witness and sidecar the engine writes once and reads forever is
  * built, published, memoized and reclaimed here, by one protocol (the
  * reference's write-factors-once design, `LUDecomposition.java`
  * lines 148-150, applied to every persisted artifact).
  *
  *  - [[publishDir]]: a directory artifact is built into a unique temp
  *    dir beside its final path, gets the [[Marker]] last and is
  *    published by one atomic rename. A dir without the marker is
  *    never reused; a junk destination is moved aside by a rename,
  *    never deleted in place under a reader.
  *  - [[writeSidecar]]/[[readSidecar]]: the one small-text codec (a
  *    line count, the lines, a `#end` trailer), read back as `None` on
  *    any fault, and [[resolveSidecar]] for a sidecar that is an
  *    artifact on its own.
  *  - [[writeAtomic]]: unique temp + ATOMIC_MOVE, so no reader ever
  *    sees a torn file.
  *  - [[artifactStatus]]: what the last resolve of each artifact did,
  *    "found" or "built".
  *  - Owner tags: every temp name embeds its owner pid
  *    ([[ownerTag]]), so what a kill -9 left behind is reclaimed by the
  *    next resolve ([[reclaimOrphans]]).
  *  - [[SessionMemo]]: the per-session in-memory handle cache.
  *  - [[linkTree]], [[deleteTree]] and [[fingerprint]]: staging by
  *    hardlink, recursive delete and the content-version fingerprint. */
private[graft] object FsUtil {

  /** Written last into every published directory artifact. */
  val Marker = "_graft_complete"

  /** The last reuse/build decision per artifact path: "found" or
    * "built", recorded at the decision point, so a bench warmup
    * reports what the resolve did rather than what a separate
    * filesystem check guessed. */
  val artifactStatus = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Hardlink every regular file under `src` whose src-relative path
    * passes `keep` into the same relative location under `dst`,
    * creating parent directories as needed; falls back to a byte copy
    * per file when linking fails (cross-device, unsupported FS,
    * permissions). With `replace` an existing destination file is
    * removed first (the generation-fold REPLACE semantics). */
  def linkTree(src0: String, dst0: String,
               keep: String => Boolean = _ => true,
               replace: Boolean = false): Unit = {
    val src = java.nio.file.Paths.get(src0)
    val dst = java.nio.file.Paths.get(dst0)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      if (Files.isRegularFile(p)) {
        val rel = src.relativize(p).toString
        if (keep(rel)) {
          val out = dst.resolve(rel)
          Files.createDirectories(out.getParent)
          if (replace) Files.deleteIfExists(out)
          try Files.createLink(out, p)
          catch { case _: Exception =>
            if (replace) Files.copy(p, out, StandardCopyOption.REPLACE_EXISTING)
            else Files.copy(p, out)
          }
        }
      }
    } finally walk.close()
  }

  /** Recursive delete; tolerates a vanished tree. */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Content-version fingerprint of the table under `root`: MD5 over
    * `version` and the (relative path, length, mtime) triple of every
    * file, walked recursively in name order so partitioned layouts
    * fingerprint their leaf files. O(#files), never scans data;
    * metadata drift causes a false rebuild (safe), never a stale read. */
  def fingerprint(root: File, version: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$version\n".getBytes)
    val rootPath = root.getAbsolutePath
    walk(root).foreach { x =>
      val rel = x.getAbsolutePath.stripPrefix(rootPath)
      md.update(s"$rel:${x.length}:${x.lastModified}\n".getBytes)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16) // local: String.take on a hex digest
  }

  // ------------------------------------------------------- owner tags

  /** `P<pid>X`: embedded in every temp name this process creates. */
  def ownerTag: String = s"P${ProcessHandle.current().pid()}X"
  private val OwnerPat = ".*P([0-9]+)X.*".r

  /** `finally` cannot run under kill -9, so a temp name whose owner
    * process is dead is residue. Names without an owner tag are
    * orphaned only past a 30-minute age, so a live dir made under
    * another naming scheme is never raced. */
  private def orphaned(name: String, mtime: Long): Boolean = name match {
    case OwnerPat(pid) =>
      !ProcessHandle.of(pid.toLong)
        .map[java.lang.Boolean](_.isAlive).orElse(java.lang.Boolean.FALSE)
    case _ => System.currentTimeMillis() - mtime > 30L * 60 * 1000
  }

  /** Deletes every entry of `root` whose name starts with one of
    * `prefixes` and whose owner is gone ([[orphaned]]). */
  def reclaimOrphans(root: File, prefixes: String*): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val n = f.getName
      if (prefixes.exists(n.startsWith) && orphaned(n, f.lastModified())) deleteTree(f)
    }

  // ----------------------------------------------------------- files

  /** Writes `body` to a unique owner-tagged temp sibling of `target`
    * and moves it over `target` in one ATOMIC_MOVE: a reader sees the
    * old file or the new one, never a torn one, and two concurrent
    * writers never share a temp. A failure deletes the temp and is
    * rethrown. */
  def writeAtomic(target: Path, body: String): Unit = {
    Files.createDirectories(target.toAbsolutePath.getParent)
    val tmp = target.resolveSibling(
      s"${target.getFileName}.$ownerTag-${java.util.UUID.randomUUID}.tmp")
    try {
      Files.writeString(tmp, body, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Exception => Files.deleteIfExists(tmp); throw e }
  }

  /** The sidecar codec: line 0 is the payload line count n, lines 1..n
    * the payload, line n+1 `#end`; written by [[writeAtomic]]. */
  def writeSidecar(f: File, lines: Seq[String]): Unit =
    writeAtomic(f.toPath, (lines.size.toString +: lines :+ "#end").mkString("", "\n", "\n"))

  /** The payload of a sidecar written by [[writeSidecar]], parsed by
    * `parse`. A missing file, a count that disagrees with the lines, a
    * missing trailer (a truncation at a line boundary still parses line
    * by line, which the trailer catches) or a `parse` failure all read
    * as `None`: a torn sidecar degrades to a rebuild, never a crash or
    * a partial read. */
  def readSidecar[A](f: File)(parse: IndexedSeq[String] => A): Option[A] =
    if (!f.isFile) None
    else try {
      val ls = Files.readAllLines(f.toPath)
      val n = ls.get(0).trim.toInt
      if (ls.size != n + 2 || ls.get(n + 1).trim != "#end") None
      else Some(parse(ls.subList(1, n + 1).asScala.toIndexedSeq))
    } catch { case _: Exception => None }

  /** A sidecar that is an artifact on its own (the PQ and OPQ training
    * results): reused when it reads back whole, else built and written. */
  def resolveSidecar[A](f: File)(parse: IndexedSeq[String] => A)
                       (build: => A, render: A => Seq[String]): A = {
    val path = f.getAbsolutePath
    reclaimOrphans(f.getParentFile, s"${f.getName}.")
    readSidecar(f)(parse) match {
      case Some(a) => artifactStatus(path) = "found"; a
      case None =>
        artifactStatus(path) = "built"
        val a = build
        writeSidecar(f, render(a))
        a
    }
  }

  // ------------------------------------------------------ directories

  /** Resolves the directory artifact `dir`: reused when it holds the
    * [[Marker]] and `read` accepts it (`read` parses its sidecars;
    * `None` or a throw means incomplete), else built by `build` into
    * a unique owner-tagged temp sibling, marked last, and published by
    * one atomic rename. A lost rename reuses the winner once it reads
    * complete (re-checked with a short backoff, the window between a
    * concurrent builder's check and its rename); otherwise the junk
    * destination is moved aside by a rename, never deleted in place
    * under a reader, and the rename is retried. Should every retry
    * lose, the complete temp dir is served. Every resolve first
    * reclaims the temp and aside dirs of `dir` whose owner is dead.
    * Returns the published path and the artifact's value. */
  def publishDir[A](dir: File)(read: File => Option[A])(build: File => A): (String, A) = {
    val root = dir.getParentFile
    val path = dir.getAbsolutePath
    reclaimOrphans(root, s"${dir.getName}.build-", s"${dir.getName}.stale-")
    def complete(): Option[A] =
      if (!new File(dir, Marker).isFile) None
      else try read(dir) catch { case _: Exception => None }
    complete() match {
      case Some(a) =>
        artifactStatus(path) = "found"
        (path, a)
      case None =>
        def sibling(kind: String) =
          new File(root, s"${dir.getName}.$kind-$ownerTag-${java.util.UUID.randomUUID}")
        val tmp = sibling("build")
        val a = try {
          val a = build(tmp)
          Files.createDirectories(tmp.toPath)
          Files.writeString(new File(tmp, Marker).toPath, "ok\n")
          a
        } catch { case e: Throwable => deleteTree(tmp); throw e }
        def winner(): Boolean = {
          var attempt = 0
          var found = complete().isDefined
          while (!found && attempt < 3) {
            Thread.sleep(100L << attempt)
            found = complete().isDefined
            attempt += 1
          }
          found
        }
        def publish(round: Int): String =
          if (tmp.renameTo(dir)) path
          else if (winner()) { deleteTree(tmp); path }
          else if (round == 2) tmp.getAbsolutePath
          else {
            val aside = sibling("stale")
            if (dir.renameTo(aside)) deleteTree(aside)
            publish(round + 1)
          }
        val published = publish(0)
        artifactStatus(published) = "built"
        (published, a)
    }
  }

  // ------------------------------------------------------------ memo

  /** Per-session memo of resolved artifacts and other session-scoped
    * values, keyed by (session, key): entries of stopped sessions are
    * dropped on every write (their checkpointed blocks are gone
    * anyway), and at most [[MemoCap]] entries are kept; an
    * evicted entry is recomputed, or found on disk, on its next use.
    * Values assume the input directories are immutable for the life
    * of the session. */
  final class SessionMemo[K, V] {
    private val entries =
      scala.collection.concurrent.TrieMap.empty[(SparkSession, K), V]

    private def admit(key: (SparkSession, K)): Unit = {
      entries.keys.foreach(k => if (k._1.sparkContext.isStopped) entries.remove(k))
      if (entries.size >= MemoCap && !entries.contains(key))
        entries.remove(entries.head._1) // local: arbitrary (hash-order) eviction on a size-capped driver map
    }

    def getOrElseUpdate(key: (SparkSession, K), v: => V): V = {
      admit(key)
      entries.getOrElseUpdate(key, v)
    }
    def update(key: (SparkSession, K), v: V): Unit = { admit(key); entries(key) = v }
    def apply(key: (SparkSession, K)): V = entries(key)
    def get(key: (SparkSession, K)): Option[V] = entries.get(key)
    def remove(key: (SparkSession, K)): Unit = entries.remove(key)
  }

  private val MemoCap = 8
}
