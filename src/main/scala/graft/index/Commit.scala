package graft.index

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The commit record of an index: `commits/gen_<n>.json` alone decides
  * what a reader sees (reference segments_N, IndexWriter.java:179-187,
  * 263-268). Generation n lists the live sub-index dirs, the delete
  * part-files of each, and the stream's last committed batch id (Spark's
  * FileStreamSink rule: `batchId <= lastBatch` was committed). Every
  * mutation writes its files, then publishes n+1 by hard-linking a fully
  * written temp file: unlike a rename, the link never replaces, so the
  * loser of a race re-applies its edit to the newer generation. A file no
  * generation lists is invisible until [[cleanup]] deletes it.
  */
object Commit {

  /** One sub-index: its dir relative to the base ("" = the base itself)
    * and the names of its delete part-files under `deletes/`. */
  final case class SubState(rel: String, deleteFiles: Seq[String])

  /** Generation `gen`: the live sub-indexes in read order (base first) and
    * the last committed stream batch (-1 before the first). */
  final case class Manifest(gen: Long, lastBatch: Long, subs: Seq[SubState]) {
    def dirs(baseDir: String): Seq[String] = subs.map(s => dirOf(baseDir, s.rel))
  }

  /** Sub-index `sub` of generation `gen` of `baseDir`, as a reader pins it. */
  final case class Pin(baseDir: String, gen: Manifest, sub: SubState) {
    def dir: String = dirOf(baseDir, sub.rel)
    def deleteFiles: Seq[String] = sub.deleteFiles.map(f => s"$dir/deletes/$f")
  }

  def dirOf(baseDir: String, rel: String): String =
    if (rel.isEmpty) baseDir else s"$baseDir/$rel"

  /** Test seam: called after every file write, stage marker and publish of
    * a mutation, so that a test can stop the mutation right there. */
  @volatile private[graft] var onStep: String => Unit = _ => ()

  private[index] def step(what: String): Unit = onStep(what)

  private val GenName = "gen_(\\d+)\\.json".r

  private def commits(baseDir: String): Path = Paths.get(baseDir, "commits")

  private def genPath(baseDir: String, n: Long): Path = commits(baseDir).resolve(s"gen_$n.json")

  private def names(dir: Path): Seq[String] = Option(dir.toFile.list()).toSeq.flatten

  /** The latest generation of `baseDir`, or None when none was published. */
  def find(baseDir: String): Option[Manifest] =
    names(commits(baseDir)).collect { case GenName(n) => n.toLong }.maxOption match {
      case None => None
      // cleanup deletes only superseded generations: a newer one exists
      case Some(n) =>
        try Some(read(genPath(baseDir, n)))
        catch { case _: NoSuchFileException => find(baseDir) }
    }

  def latest(baseDir: String): Manifest = find(baseDir).getOrElse(
    throw new IllegalStateException(s"$baseDir has no commit generation " +
      "(commits/gen_<n>.json): it is not an index, or its build never committed"))

  /** Sub-index `dir` in its own latest generation (a base) or its parent's;
    * `latestOf` reads a base's latest generation. */
  def locate(dir: String, latestOf: String => Option[Manifest] = find): Option[Pin] = {
    def in(base: String, rel: String): Option[Pin] =
      latestOf(base).flatMap(g => g.subs.find(_.rel == rel).map(Pin(base, g, _)))
    val p = Paths.get(dir)
    in(dir, "").orElse(Option(p.getParent)
      .flatMap(b => in(b.toString, p.getFileName.toString)))
  }

  def pin(dir: String): Pin = locate(dir).getOrElse(
    throw new IllegalStateException(s"$dir is not a committed index or " +
      "sub-index: no commit generation (commits/gen_<n>.json) lists it"))

  /** Publish generation n+1 of `baseDir` as `edit` makes it from the latest
    * generation n (an empty generation 0 when there is none). `edit`
    * returns None when there is nothing to commit; it may run more than
    * once, on a newer generation each time. Returns the latest generation
    * after the call. */
  private[index] def publish(baseDir: String)(edit: Manifest => Option[Manifest]): Manifest = {
    val cur = find(baseDir).getOrElse(Manifest(0L, -1L, Nil))
    edit(cur) match {
      case None => cur
      case Some(m) =>
        val next = m.copy(gen = cur.gen + 1)
        Files.createDirectories(commits(baseDir))
        if (!createOnce(genPath(baseDir, next.gen), json(next))) publish(baseDir)(edit)
        else { step(s"publish $baseDir gen ${next.gen}"); next }
    }
  }

  /** Publish `m` as the first generation of `baseDir`, under `m`'s own
    * number: a locked writer names its new sub-index after the generation
    * that will publish it, so every `merge_<n>`/`update_<n>` that `m`
    * lists must stay at or below the latest generation. False when
    * `baseDir` already has a generation. */
  private[index] def adopt(baseDir: String, m: Manifest): Boolean =
    find(baseDir).isEmpty && {
      Files.createDirectories(commits(baseDir))
      createOnce(genPath(baseDir, m.gen), json(m)) &&
        { step(s"publish $baseDir gen ${m.gen}"); true }
    }

  /** Create `p` holding `body`, atomically and only if `p` does not exist:
    * the body is written in full to a temp file that is then hard-linked
    * as `p`. False when `p` exists. */
  private[index] def createOnce(p: Path, body: String): Boolean = {
    val tmp = p.resolveSibling(s".${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, body)
    try { Files.createLink(p, tmp); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: NoSuchFileException => createOnce(p, body) // a cleanup took the temp file
    } finally Files.deleteIfExists(tmp)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private[index] def json(m: Manifest): String = mapper.writeValueAsString(m)

  private[index] def read(p: Path): Manifest = mapper.readValue(Files.readString(p), classOf[Manifest])

  /** Generations that reachable readers in this JVM hold, by base dir. Held
    * weakly, as IndexReader holds its postings caches: a reader that is no
    * longer reachable stops retaining its generation's files. */
  private val held = scala.collection.mutable
    .ArrayBuffer[(Path, java.lang.ref.WeakReference[Manifest])]()

  private def key(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize

  private[index] def hold(baseDir: String, g: Manifest): Unit = held.synchronized {
    held.filterInPlace(_._2.get != null)
    held += ((key(baseDir), new java.lang.ref.WeakReference(g)))
  }

  private val SubName = "(delta|merge|update)_(\\d+)".r

  /** Delete what no retained generation of `baseDir` lists; a retained one
    * is the latest, a snapshot's, or one a reachable reader holds. It
    * deletes unlisted sub-index dirs and delete part-files, superseded
    * generation records and temp files. A `delta_<b>` dir with b past the
    * last batch may be an append in flight, which resumes from its stage
    * markers: it is never deleted. The caller holds the write lock, so no
    * `merge_*`/`update_*` dir or delete part-file is being written. */
  private[index] def cleanup(baseDir: String): Unit = {
    val latest = Commit.latest(baseDir)
    val retained = Seq(latest) ++ Snapshot.list(baseDir).map(Snapshot.read(baseDir, _)) ++
      held.synchronized(held.filter(_._1 == key(baseDir)).flatMap(h => Option(h._2.get)))
    val keep = retained.flatMap(_.subs).groupBy(_.rel)
      .map { case (rel, ss) => rel -> ss.flatMap(_.deleteFiles).toSet }
    names(Paths.get(baseDir)).foreach {
      case n @ SubName(kind, b) if !keep.contains(n) &&
          (kind != "delta" || b.toLong <= latest.lastBatch) =>
        IndexBuilder.deleteRecursively(Paths.get(baseDir, n))
      case _ =>
    }
    keep.foreach { case (rel, files) =>
      val dels = Paths.get(dirOf(baseDir, rel), "deletes")
      names(dels).filter { f =>
        val part = f.stripPrefix(".").stripSuffix(".crc")
        part.endsWith(".parquet") && !files(part)
      }.foreach(f => Files.deleteIfExists(dels.resolve(f)))
    }
    names(commits(baseDir)).filter {
      case GenName(n) => n.toLong < latest.gen
      case f => f.endsWith(".tmp")
    }.foreach(f => Files.deleteIfExists(commits(baseDir).resolve(f)))
  }
}
