package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Commit-point snapshots and backups.
  *
  * Reference analogs: SnapshotDeletionPolicy (lucene/core/src/java/org/
  * apache/lucene/index/SnapshotDeletionPolicy.java — pin a commit point so
  * its files survive later writes) and the Solr replication handler's
  * backup command (solr/core/src/java/org/apache/solr/handler/
  * ReplicationHandler.java, SnapShooter.java — copy the pinned commit's
  * files to a backup directory).
  *
  * This engine's index is write-once at file granularity: stages write
  * their parquet once and mutations only ADD files (delta_N sub-index
  * dirs, part-files appended under each dir's `deletes/`). So a commit
  * point is fully described by (sub-index dirs, delete part-files per
  * dir) — exactly what the manifest records. A snapshot costs one
  * directory listing, no data copy (the SnapshotDeletionPolicy posture);
  * `backup` materializes the manifest into a self-contained index dir
  * (the SnapShooter posture) that [[MultiIndexReader.open]] serves as-is.
  * At 100 TB both scale: the manifest is KB-sized metadata, and backup is
  * a parallel file copy bounded by the snapshot's own data.
  */
object Snapshot {

  /** One sub-index at the commit point: its dir name relative to base
    * ("" = the base index itself) and the delete part-files pinned. */
  final case class SubState(rel: String, deleteFiles: Seq[String])

  final case class Manifest(name: String, subs: Seq[SubState])

  private def snapDir(baseDir: String): Path = Paths.get(baseDir, "snapshots")

  private def deletePartFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir, "deletes")
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map(_.getFileName.toString).toSeq.sorted
  }

  /** Pin the current commit point under `baseDir/snapshots/<name>.json`.
    * Runs under the single-writer lock so it cannot interleave with a
    * mutating writer mid-commit. */
  def create(spark: SparkSession, baseDir: String, name: String): Manifest =
    IndexBuilder.withWriteLock(baseDir) {
      val base = Paths.get(baseDir).toAbsolutePath
      val subs = IndexBuilder.subIndexDirs(baseDir)
        .map { d =>
          val rel = base.relativize(Paths.get(d).toAbsolutePath).toString
          SubState(rel, deletePartFiles(d))
        }
      val m = Manifest(name, subs)
      Files.createDirectories(snapDir(baseDir))
      val json = {
        def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        val subJson = m.subs.map { s =>
          s"""{"rel": ${q(s.rel)}, "deleteFiles": [${s.deleteFiles.map(q).mkString(", ")}]}"""
        }.mkString("[", ", ", "]")
        s"""{"name": ${q(m.name)}, "subs": $subJson}"""
      }
      Files.writeString(snapDir(baseDir).resolve(s"$name.json"), json)
      m
    }

  /** Parse `<name>.json` (minimal reader for the writer above). */
  def read(baseDir: String, name: String): Manifest = {
    val txt = Files.readString(snapDir(baseDir).resolve(s"$name.json"))
    def strs(arr: String): Seq[String] =
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(arr)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
    val subRe = "\\{\"rel\": (\"(?:[^\"\\\\]|\\\\.)*\"), \"deleteFiles\": \\[([^\\]]*)\\]\\}".r
    val subs = subRe.findAllMatchIn(txt).map { m =>
      SubState(strs(m.group(1)).head, strs(m.group(2)))
    }.toSeq
    val nameRe = "^\\{\"name\": (\"(?:[^\"\\\\]|\\\\.)*\")".r
    Manifest(nameRe.findFirstMatchIn(txt).map(m => strs(m.group(1)).head)
      .getOrElse(name), subs)
  }

  /** Open a point-in-time reader at the snapshot: only the pinned
    * sub-indexes, only the pinned tombstones — deletes, updates and
    * appends committed after the snapshot are invisible. */
  def openAt(spark: SparkSession, baseDir: String, name: String,
             numBuckets: Int, cacheData: Boolean = true): MultiIndexReader = {
    val m = read(baseDir, name)
    new MultiIndexReader(m.subs.map { s =>
      val dir = if (s.rel.isEmpty) baseDir
      else Paths.get(baseDir, s.rel).toString
      new IndexReader(spark, dir, numBuckets, cacheData,
        pinnedDeleteFiles = Some(s.deleteFiles))
    })
  }

  private val IndexStages =
    Seq("segments", "postings", "termstats", "collstats", "fieldstats")

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Materialize the snapshot as a SELF-CONTAINED index at `destDir`
    * (ReplicationHandler backup): stage parquet + lineage markers of each
    * pinned sub-index, plus only the pinned delete part-files. "Restore"
    * is just opening the result — `MultiIndexReader.open(destDir)` —
    * or copying it back over a fresh base dir. */
  def backup(baseDir: String, name: String, destDir: String): Unit = {
    val m = read(baseDir, name)
    m.subs.foreach { s =>
      val srcDir = if (s.rel.isEmpty) Paths.get(baseDir)
      else Paths.get(baseDir, s.rel)
      val dstDir = if (s.rel.isEmpty) Paths.get(destDir)
      else Paths.get(destDir, s.rel)
      Files.createDirectories(dstDir)
      (IndexStages :+ "_lineage").foreach { st =>
        val sp = srcDir.resolve(st)
        if (Files.exists(sp)) copyTree(sp, dstDir.resolve(st))
      }
      if (s.deleteFiles.nonEmpty) {
        val dd = dstDir.resolve("deletes")
        Files.createDirectories(dd)
        s.deleteFiles.foreach { f =>
          Files.copy(srcDir.resolve("deletes").resolve(f), dd.resolve(f),
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** Follower catch-up sync (ReplicationHandler / solr/core/.../handler/
    * IndexFetcher.java:302-380 fetchLatestIndex, :731-775
    * downloadIndexFiles, :776-835 compareFile, :836-850 isIndexStale):
    * compare every master index file against the follower by (relative
    * path, size, checksum) and copy ONLY missing files. A same-named
    * file whose bytes differ marks the follower STALE — the reference
    * then abandons incremental fetch and downloads the complete index
    * into a fresh directory before swapping it in; here the follower's
    * index stages are cleared and re-copied whole. Returns
    * (copied, skipped, fullCopy). Driver-side file plumbing by design —
    * replication moves FILES, not rows; the bytes never enter Spark. */
  def sync(masterDir: String, followerDir: String): (Int, Int, Boolean) = {
    def crc(p: Path): Long = {
      // streamed: index part-files can be GBs — never whole-file in heap
      val c = new java.util.zip.CRC32()
      val in = Files.newInputStream(p)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) c.update(buf, 0, n)
          n = in.read(buf)
        }
      } finally in.close()
      c.getValue
    }
    def indexFiles(root: Path): Seq[Path] =
      if (!Files.exists(root)) Nil
      else Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter { p =>
          val rel = root.relativize(p).toString
          !rel.startsWith("snapshots")
        }.toSeq
    val mRoot = Paths.get(masterDir)
    val fRoot = Paths.get(followerDir)
    val master = indexFiles(mRoot)
    // pass 1: stale check (compareFile over same-named files)
    val stale = master.exists { mp =>
      val fp = fRoot.resolve(mRoot.relativize(mp))
      Files.exists(fp) &&
        (Files.size(fp) != Files.size(mp) || crc(fp) != crc(mp))
    }
    if (stale) {
      // full copy: clear follower stages, copy the master tree whole
      indexFiles(fRoot).foreach(Files.delete)
      master.foreach { mp =>
        val fp = fRoot.resolve(mRoot.relativize(mp))
        Files.createDirectories(fp.getParent)
        Files.copy(mp, fp, StandardCopyOption.REPLACE_EXISTING)
      }
      (master.size, 0, true)
    } else {
      var copied = 0
      var skipped = 0
      master.foreach { mp =>
        val fp = fRoot.resolve(mRoot.relativize(mp))
        if (Files.exists(fp)) skipped += 1
        else {
          Files.createDirectories(fp.getParent)
          Files.copy(mp, fp)
          copied += 1
        }
      }
      (copied, skipped, false)
    }
  }

  /** List snapshot names pinned under `baseDir`. */
  def list(baseDir: String): Seq[String] = {
    val p = snapDir(baseDir)
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq.sorted
  }

  /** Release a pinned snapshot (SnapshotDeletionPolicy.release). */
  def release(baseDir: String, name: String): Boolean =
    Files.deleteIfExists(snapDir(baseDir).resolve(s"$name.json"))
}
