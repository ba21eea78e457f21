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
  * A snapshot is a name for a retained generation: `snapshots/<name>.json`
  * holds a copy of the [[Commit]] record that was the latest when it was
  * taken, and [[Commit.cleanup]] deletes no file it lists (one small file,
  * no data copy). `backup` copies the listed files into a self-contained
  * index dir whose first generation is that record, under its own number
  * (the SnapShooter posture).
  */
object Snapshot {
  import Commit.Manifest

  private def snapDir(baseDir: String): Path = Paths.get(baseDir, "snapshots")

  private def record(baseDir: String, name: String): Path =
    snapDir(baseDir).resolve(s"$name.json")

  /** Pin the latest generation under `baseDir/snapshots/<name>.json`, under
    * the single-writer lock. A name is taken once: release it first. */
  def create(spark: SparkSession, baseDir: String, name: String): Manifest =
    IndexBuilder.withWriteLock(baseDir) {
      val g = Commit.latest(baseDir)
      Files.createDirectories(snapDir(baseDir))
      if (!Commit.createOnce(record(baseDir, name), Commit.json(g)))
        throw new IllegalStateException(s"snapshot $name of $baseDir exists")
      Commit.step(s"snapshot $baseDir $name")
      g
    }

  def read(baseDir: String, name: String): Manifest =
    Commit.read(record(baseDir, name))

  /** Open a point-in-time reader at the snapshot: only the pinned
    * sub-indexes, only the pinned tombstones — deletes, updates and
    * appends committed after the snapshot are invisible. */
  def openAt(spark: SparkSession, baseDir: String, name: String,
             numBuckets: Int, cacheData: Boolean = true): MultiIndexReader =
    MultiIndexReader.at(spark, baseDir, read(baseDir, name), numBuckets, cacheData)

  private val IndexStages =
    Seq("segments", "postings", "termstats", "_lineage")

  /** Copy file or tree `src` to `dst`. */
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
    * pinned sub-index and only the pinned delete part-files, then the
    * snapshot's record as the destination's first generation, numbered as
    * in the source (see [[Commit.adopt]]). "Restore" is just
    * opening the result — `MultiIndexReader.open(destDir)` — or copying
    * it back over a fresh base dir. */
  def backup(baseDir: String, name: String, destDir: String): Unit = {
    val m = read(baseDir, name)
    m.subs.foreach { s =>
      val (from, to) = (Paths.get(Commit.dirOf(baseDir, s.rel)), Paths.get(Commit.dirOf(destDir, s.rel)))
      (IndexStages ++ s.deleteFiles.map(f => s"deletes/$f")).map(from.resolve)
        .filter(Files.exists(_)).foreach(p => copyTree(p, to.resolve(from.relativize(p))))
      Commit.step(s"backup $destDir ${s.rel}")
    }
    IndexBuilder.withWriteLock(destDir)(Commit.adopt(destDir, m))
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
