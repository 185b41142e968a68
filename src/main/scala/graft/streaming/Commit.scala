package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}

/** The one version-publishing protocol behind every pointer-published table:
  * [[Streams.commitSnapshot]] / [[Streams.upsertSnapshot]] (`_LATEST` holding
  * `v_<n>`), [[PartitionedSnapshot]] (`_LATEST` holding `m_<n>`, next to the
  * `m_<n>.json` manifest) and the persisted IVF indexes of
  * [[graft.ops.Similarity]] (the `_COMMIT` manifest itself is the pointer).
  * Each kind keeps its own on-disk body and housekeeping; the decision of
  * WHEN a new version becomes visible lives only here.
  *
  * A writer [[read]]s the pointer, [[claim]]s the directories and
  * [[createNew]]s the files its next version writes, writes its data, then
  * publishes with one [[flip]]: the pointer body goes to
  * `<pointer>.tmp_<version>`, the concurrent-writer check runs as the very
  * last step, and an atomic `FileContext.rename(OVERWRITE)` replaces the
  * pointer (a metadata op on HDFS-like stores, an atomic `REPLACE_EXISTING`
  * move on local disks). Readers resolving the pointer therefore see the
  * previous version or the new one, never a mix.
  *
  * Single writer per table is the deployment contract. The claim and the
  * fence make violations loud, not safe: plain filesystems have no
  * compare-and-swap rename, so two flips inside the same instant can still
  * race — the fence is detection for everything slower than that, not
  * mutual exclusion. Both failures raise [[ConcurrentWriteException]], and
  * in both the other writer's commit is live and intact.
  */
object Commit {

  /** Another writer claimed this version, or committed between this
    * writer's pointer read and its flip. Nothing this writer wrote is
    * visible; retry the operation from a fresh read.
    */
  final class ConcurrentWriteException(msg: String) extends IllegalStateException(msg)

  /** The pointer's content, `None` before the first commit. */
  def read(conf: Configuration, dir: String, pointer: String): Option[String] = {
    val p = new Path(dir, pointer)
    try {
      val in = p.getFileSystem(conf).open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def leftover(p: Path) = new ConcurrentWriteException(
    s"$p already exists: a concurrent writer claimed this version or a " +
      "crashed commit left it behind - remove it (vacuum does, after its " +
      "grace window), then retry")

  /** Claim a next-version directory: refuse one that already exists rather
    * than overwrite another writer's data.
    */
  def claim(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    if (p.getFileSystem(conf).exists(p)) throw leftover(p)
  }

  /** Create a next-version file exclusively, holding `body`. */
  def createNew(conf: Configuration, path: String, body: String): Unit = {
    val p = new Path(path)
    val out = try p.getFileSystem(conf).create(p, false)
    catch { case _: FileAlreadyExistsException => throw leftover(p) }
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  private val seam = new ThreadLocal[() => Unit]

  /** Test seam: run `other` once inside the first [[flip]] that `body`
    * reaches on this thread, after its temp file is written and before its
    * concurrent-writer check — the window an interleaved writer must not
    * slip through unnoticed.
    */
  private[graft] def interleaved[T](other: => Unit)(body: => T): T = {
    seam.set(() => other)
    try body finally seam.remove()
  }

  /** Publish `version`: replace `dir/pointer` with `body` if the pointer
    * still holds `prior` (what this writer read; `None` = no pointer yet),
    * else fail with [[ConcurrentWriteException]] naming `op`.
    */
  def flip(
      conf: Configuration, dir: String, pointer: String, version: Long,
      body: String, prior: Option[String], op: String): Unit = {
    val d = new Path(dir)
    val tmp = new Path(d, s"$pointer.tmp_$version")
    val out = d.getFileSystem(conf).create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    Option(seam.get).foreach { hook => seam.remove(); hook() }
    val now = read(conf, dir, pointer)
    if (now != prior) {
      def show(p: Option[String]) = p.map(s => s"'${s.linesIterator.next()}'").getOrElse("<none>")
      throw new ConcurrentWriteException(
        s"$op on $dir started from $pointer ${show(prior)} but found " +
          s"${show(now)} at flip time: a concurrent writer committed in " +
          "between (the protocol is single-writer). The other commit is " +
          "live and intact; retry this operation from a fresh read.")
    }
    FileContext.getFileContext(d.toUri, conf)
      .rename(tmp, new Path(d, pointer), Options.Rename.OVERWRITE)
  }
}
