package graft.transport

/** Where a replication pump lands what it reads: capture segment files
  * in the exact layout [[graft.sources.ChangelogSource]] streams from
  * (`<name>.log`, lexicographic name = arrival order). The pump is the
  * producer half of the existing CDC transport — everything downstream
  * (micro-batch planning, decode, compaction, sinks) already runs on
  * these files.
  */
trait SegmentStore {
  /** Append `bytes` to segment `name` (creating it if absent). */
  def append(name: String, bytes: Array[Byte]): Unit

  /** Segment names present, sorted (resume scans the tail). */
  def names: Seq[String]

  def bytesOf(name: String): Array[Byte]

  /** Publish a finished segment (rotate boundary / shutdown) —
    * durability point for stores that stage in-flight writes; a no-op
    * for stores whose appends are immediately visible.
    */
  def publish(name: String): Unit = ()

  def publishAll(): Unit = ()

  /** Drop an UNPUBLISHED in-flight segment (a capture known to be
    * unusable — e.g. a wire drop mid-RDB leaves a bulk that can never
    * decode and whose resync position was never adopted). Published
    * segments are immutable and never discarded.
    */
  def discard(name: String): Unit = ()
}

/** Segment-name numbering across restarts: the streaming checkpoint
  * is NAME-based and ChangelogSource only reads names strictly after
  * its offset, so a restarted pump must never reuse a published name
  * — it continues after the highest existing index.
  */
object SegmentNames {
  private val Numbered = """\.(\d+)\.log$""".r

  /** Highest existing NNNNNN for `<prefix>.NNNNNN.log`, 0 if none. */
  def lastIndex(store: SegmentStore, prefix: String): Int =
    store.names.filter(_.startsWith(prefix + "."))
      .flatMap(n => Numbered.findFirstMatchIn(n).map(_.group(1).toInt))
      .maxOption.getOrElse(0)
}

/** In-memory store for specs. */
final class MemorySegmentStore extends SegmentStore {
  private val segs =
    scala.collection.mutable.LinkedHashMap[String,
      java.io.ByteArrayOutputStream]()

  override def append(name: String, bytes: Array[Byte]): Unit =
    segs.getOrElseUpdate(name, new java.io.ByteArrayOutputStream())
      .write(bytes)

  override def names: Seq[String] = segs.keys.toSeq.sorted

  override def bytesOf(name: String): Array[Byte] =
    segs(name).toByteArray

  override def discard(name: String): Unit = { segs.remove(name): Unit }
}

/** Hadoop-FS store: in-flight segments spool to a LOCAL temp file
  * (bounded by the server's rotate threshold, and appendable — s3a has
  * no append) and publish to the capture dir in one object put at
  * rotate/close. ChangelogSource only lists `*.log`, so a segment is
  * never planned into a micro-batch before its publish — the same
  * commit-by-visibility argument as LakeSink's meta protocol. The
  * local spool is process-local by design (whitelisted in
  * FsDisciplineSpec); only the PUBLISHED path is a cluster URI.
  */
final class FsSegmentStore(dir: String) extends SegmentStore {
  import graft.infra.Fs
  Fs.mkdirs(dir)
  /** The local spool dir, present only while a spool is open: created
    * on the first append after none was, removed once the last open
    * spool publishes or is discarded, so no store leaves an empty temp
    * dir behind.
    */
  private var spoolDir: java.nio.file.Path = _
  private val open =
    scala.collection.mutable.LinkedHashMap[String,
      java.io.OutputStream]()
  @volatile private var published = 0

  override def append(name: String, bytes: Array[Byte]): Unit =
    open.getOrElseUpdate(name, {
      if (spoolDir == null)
        spoolDir = java.nio.file.Files.createTempDirectory("graft-segspool")
      java.nio.file.Files.newOutputStream(spoolDir.resolve(name))
    }).write(bytes)

  /** Delete `name`'s closed spool, and the spool dir once no spool is
    * open.
    */
  private def dropSpool(name: String): Unit = {
    java.nio.file.Files.deleteIfExists(spoolDir.resolve(name))
    if (open.isEmpty) {
      java.nio.file.Files.deleteIfExists(spoolDir)
      spoolDir = null
    }
  }

  /** Publish a finished segment (rotate boundary / shutdown).
    * Stage-then-rename: a resident landing pass lists the capture dir
    * concurrently, and a plain create-write-close is visible at create
    * with PARTIAL content on local FS/HDFS — a reader consuming (and
    * checkpointing) a half-written segment would silently lose its
    * tail. The `.tmp` suffix keeps the staged object out of every
    * `.log` listing; the rename is the atomic visibility point.
    */
  override def publish(name: String): Unit =
    open.remove(name).foreach { out =>
      out.close()
      Fs.write(s"$dir/$name.tmp",
        java.nio.file.Files.readAllBytes(spoolDir.resolve(name)))
      if (!Fs.rename(s"$dir/$name.tmp", s"$dir/$name"))
        throw new java.io.IOException(
          s"segment publish rename failed: $dir/$name")
      published += 1
      dropSpool(name)
    }

  override def publishAll(): Unit = open.keys.toSeq.foreach(publish)

  /** Segments this store published: the segments of one lane start. */
  def publishedCount: Int = published

  override def names: Seq[String] =
    (Fs.listNames(dir).filterNot(_.endsWith(".tmp")) ++ open.keys)
      .distinct.sorted

  /** PUBLISHED (durable) segments only — what a resident landing pass
    * may consume: an open spool is still being appended, so landing it
    * (and marking it consumed) would silently drop its tail.
    */
  def publishedNames: Seq[String] =
    Fs.listNames(dir).filterNot(_.endsWith(".tmp")).sorted

  override def bytesOf(name: String): Array[Byte] =
    if (open.contains(name)) {
      open(name).flush()
      java.nio.file.Files.readAllBytes(spoolDir.resolve(name))
    } else Fs.readAllBytes(s"$dir/$name")

  override def discard(name: String): Unit =
    open.remove(name).foreach { out =>
      out.close()
      dropSpool(name)
    }
}
