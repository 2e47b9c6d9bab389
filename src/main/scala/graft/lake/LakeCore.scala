package graft.lake

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession

/** A lost optimistic commit: `_current` moved past the parent the new
  * manifest was built on. Rebase-and-retry loops catch this type alone,
  * so a failed `require` is never mistaken for a lost race.
  */
final class CommitConflict(val current: Long, val expected: Long)
  extends IllegalArgumentException(s"concurrent commit: current=$current expected=$expected")

/** The manifest-table mechanics that [[LakeTable]] and [[BucketStore]]
  * share: one commit protocol, one adoption of staged files, one staging
  * area and one reclaim of unreferenced files. What a data file means
  * (buckets and max-LSN rows, or pids and versioned rows) stays with the
  * owner; this class only moves, records and deletes files.
  *
  * Layout under `root`:
  * {{{
  *   data/...                    committed data files (sub-layout is the owner's)
  *   _manifests/manifest-<v>.json (+ seg-* segments under the split encoding)
  *   _current                    the committed version, swapped atomically
  *   _staging/<label>-<uuid>/    one staged write attempt
  * }}}
  *
  * `encode` is the manifest encoding ([[Manifest.writeSplit]] for tables,
  * [[Manifest.writeInline]] for stores). It writes a version and returns
  * the manifest exactly as [[manifestAt]] will read it back, which is what
  * the commit memoizes.
  */
private[graft] final class LakeCore(val root: Path, spark: SparkSession,
                                    encode: (Path, Manifest) => Manifest) {
  import LakeCore._

  val manifestDir: Path = root.resolve("_manifests")
  private val dataDir: Path = root.resolve("data")
  private def currentPtr: Path = root.resolve("_current")
  private def stagingDir: Path = root.resolve("_staging")

  /** The JVM-wide monitor of this root (see [[LakeCore.pathLock]]). */
  def lock: Object = pathLock(root)

  def currentVersion: Long = new String(Files.readAllBytes(currentPtr)).trim.toLong

  // One-entry memo of the current manifest: a lookup, scan, probe or
  // commit loads the manifest, and re-parsing an unchanged version costs
  // O(files) of JSON work. `_current` is still read on every call, so a
  // commit through any other instance (or process) is seen at once.
  @volatile private var memo: (Long, Manifest) = null

  def manifest: Manifest = {
    val v = currentVersion
    val cached = memo
    if (cached != null && cached._1 == v) cached._2
    else {
      val m = manifestAt(v)
      memo = (v, m)
      m
    }
  }

  /** Always a disk read: a version past the metadata horizon throws even
    * while it is the memo's entry.
    */
  def manifestAt(version: Long): Manifest = Manifest.readSplit(manifestDir, version)

  /** Lay out a fresh root holding `m` as version 0. */
  def create(m: Manifest): Unit = {
    Files.createDirectories(manifestDir)
    Files.createDirectories(dataDir)
    publish(m)
  }

  /** Atomically commit `m` as the child of `expectedParent`: write the
    * manifest, then swap `_current`. Optimistic CAS under the root's
    * monitor: two instances over one root (a streaming writer and a SQL
    * MERGE, or the async compactor) serialize their check-and-write, and
    * the loser gets a [[CommitConflict]] instead of silently dropping the
    * winner's files.
    */
  def commit(m: Manifest, expectedParent: Long): Unit = lock.synchronized {
    val cur = currentVersion
    if (cur != expectedParent) throw new CommitConflict(cur, expectedParent)
    require(m.version == expectedParent + 1,
      s"manifest version ${m.version} does not follow its parent $expectedParent")
    publish(m)
  }

  /** Write `m`, then swap `_current` to it: the checksum-last step. */
  private def publish(m: Manifest): Unit = {
    val written = encode(manifestDir, m)
    Manifest.writeAtomic(currentPtr, m.version.toString)
    memo = (m.version, written)
  }

  // ---- staged writes -----------------------------------------------

  /** A fresh staging directory for one write attempt,
    * `_staging/<label>-<uuid>`, after sweeping abandoned attempts. Names
    * are unique per attempt, so two writers racing on one root never
    * share (and delete) each other's output, and a crashed attempt is
    * reclaimed by a later sweep, never by its retry.
    */
  def stagingFor(label: String): Path = {
    sweepStaleStaging()
    stagingDir.resolve(s"$label-${java.util.UUID.randomUUID().toString.take(8)}")
  }

  /** GC abandoned staging attempts. Staleness is judged by the SUBTREE's
    * max mtime, not the top dir's: a running parquet job touches only
    * `_temporary/` and partition subdirectories, so the top-level dir's
    * mtime is its creation time and a long rewrite (> grace) would be
    * swept mid-flight. A subtree with no write activity for `olderThanMs`
    * cannot belong to a live writer short of a task stalled a full hour
    * between file creations (raise the grace if that is plausible).
    * Root children named `_staging-*` are attempts of a store written
    * before the shared `_staging/` area and are swept by the same rule.
    */
  def sweepStaleStaging(olderThanMs: Long = 3600000L): Unit = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def children(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.toList finally s.close()
      }
    val attempts = children(stagingDir) ++
      children(root).filter(_.getFileName.toString.startsWith("_staging-"))
    attempts.foreach { d =>
      val stale = try {
        val walk = Files.walk(d)
        try walk.iterator().asScala
          .map(p => try Files.getLastModifiedTime(p).toMillis catch { case _: Throwable => Long.MaxValue })
          .max < cutoff
        finally walk.close()
      } catch { case _: Throwable => false }
      if (stale) try deleteRecursively(d) catch { case _: Throwable => () }
    }
  }

  /** Adopt the parquet files a successful write left under `staging`.
    * Each footer is read once, by one [[FooterReader]], on a bounded
    * pool: footer reads are driver-side metadata I/O, and done serially
    * they become a per-commit serial stage at thousands of staged files.
    * `entry` builds a file's manifest entry from its staged path and
    * footer; the file then moves to the entry's root-relative `path`.
    * The staging subtree is deleted afterwards. Entries come back in
    * listing order.
    */
  def adopt(staging: Path)(entry: (Path, ParquetMetadata) => FileEntry): Seq[FileEntry] = {
    // A missing directory is never "no output" (an empty result still
    // leaves the dir + _SUCCESS): something deleted the staged data between
    // write and adopt. Committing Nil would silently drop the batch — or,
    // in a compaction, remove files with no replacement. Fail loudly.
    if (!Files.exists(staging))
      throw new IllegalStateException(
        s"staged output vanished before adoption: $staging — " +
        "was the staging GC grace window set below the write duration?")
    // walk stream closed eagerly: adoption runs on EVERY commit, and an
    // unclosed directory stream holds its fd until process exit
    val staged = {
      val s = Files.walk(staging)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    // one reader per adoption: its read options are built once from the
    // session's Hadoop conf, not once per footer
    val footers = new FooterReader(spark.sessionState.newHadoopConf())
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(16, staged.size)))
    val adopted =
      try staged.map { p =>
        val task: Callable[FileEntry] = () => {
          val e = entry(p, footers.footer(p))
          val target = root.resolve(e.path)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.REPLACE_EXISTING)
          e
        }
        pool.submit(task)
      }.map(_.get())
      finally pool.shutdown()
    deleteRecursively(staging)
    adopted
  }

  // ---- reclaim -------------------------------------------------------

  /** Files of the versions in [from, to] whose manifests are still
    * readable (versions past the metadata horizon are skipped).
    */
  def filesOf(from: Long, to: Long): Seq[FileEntry] =
    (math.max(0L, from) to to)
      .flatMap(v => scala.util.Try(manifestAt(v)).toOption)
      .flatMap(_.files)

  /** Delete every file under `data/` whose root-relative path is not in
    * `keep` and whose mtime is older than `graceMs`. Holds the commit
    * monitor: adoption moves files into `data/` before the manifest that
    * references them exists, and the grace window (Delta-style retention)
    * additionally protects a commit still building its manifest outside
    * the lock — pass `graceMs = 0` only when no writer can be in flight
    * (tests, offline GC). Returns the number of files deleted.
    */
  def reclaimData(keep: Set[String], graceMs: Long): Int = lock.synchronized {
    if (!Files.exists(dataDir)) return 0
    val adoptedAfter = System.currentTimeMillis() - graceMs
    var removed = 0
    val walk = Files.walk(dataDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .foreach { p =>
        val rel = root.relativize(p).toString
        val recent = Files.getLastModifiedTime(p).toMillis >= adoptedAfter
        if (!keep.contains(rel) && !recent) { Files.delete(p); removed += 1 }
      }
    finally walk.close()
    removed
  }

  /** Metadata horizon: delete the manifest docs of versions below
    * `horizon`, then every segment no remaining doc references (content
    * addressing makes this exact). Holds the commit monitor: a commit
    * writes its segments before its top doc exists, so an unsynchronized
    * pass would delete segments an about-to-land manifest points at.
    * Returns (manifests, segments) removed.
    */
  def dropManifestsBefore(horizon: Long): (Int, Int) = lock.synchronized {
    def listNames(): Seq[Path] = {
      val s = Files.list(manifestDir)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val manifestRe = "manifest-(\\d{10})\\.json".r
    var removedManifests = 0
    val keptVersions = scala.collection.mutable.ArrayBuffer.empty[Long]
    listNames().foreach { p =>
      p.getFileName.toString match {
        case manifestRe(v) =>
          if (v.toLong < horizon) { Files.delete(p); removedManifests += 1 }
          else keptVersions += v.toLong
        case _ =>
      }
    }
    val referenced = keptVersions.flatMap(v =>
      Manifest.readDoc(manifestDir, v).segments.map(_.seg)).toSet
    var removedSegs = 0
    listNames().foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("seg-") && !referenced.contains(name)) {
        Files.delete(p); removedSegs += 1
      }
    }
    (removedManifests, removedSegs)
  }
}

private[graft] object LakeCore {

  /** One JVM-wide monitor per canonical root: commit, adoption-sensitive
    * reclaim and metadata GC serialize on it regardless of how many
    * instances point at the same directory.
    */
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def pathLock(root: Path): Object =
    locks.getOrElseUpdate(root.toAbsolutePath.normalize.toString, new Object)

  /** The value of partition column `column` in a staged file's parent
    * directory (`<column>=<n>`, as `partitionBy` lays it out).
    */
  def partitionOf(staged: Path, column: String): Int = {
    val dir = staged.getParent.getFileName.toString
    if (!dir.startsWith(column + "="))
      throw new IllegalStateException(s"no $column= directory above $staged")
    dir.substring(column.length + 1).toInt
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
