package graft.infra

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Hadoop-FileSystem façade for every TASK-PATH filesystem touch —
  * capture segment dirs, check-log dirs, sink artifact dirs. Task
  * paths are cluster paths: on a real deployment the capture dir an
  * executor reads is s3a://…/binlogs, not a directory on the driver's
  * disk, so `java.io.File`/`java.nio.file.Files` are wrong there (they
  * answer "missing" for every object-store URI). Driver-LOCAL state
  * (task-manager state dir, subscription spool, config files) stays on
  * java.nio deliberately — FsDisciplineSpec pins which files may use
  * which API.
  *
  * Config resolution: the active session's hadoopConfiguration on the
  * driver; on executors (no active session) the default `Configuration`
  * loads core-site.xml from the executor classpath — the standard
  * DSv2-reader posture when no per-partition config is threaded. That
  * default is built once per JVM: a fresh `Configuration` parses its
  * XML resources on first lookup, a cost every executor segment read
  * would pay again. This is the only `new Configuration()` in src/main
  * (SessionDisciplineSpec).
  */
object Fs {
  private lazy val default = new Configuration()

  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(default)

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def isDirectory(path: String): Boolean = {
    val f = fs(path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  def size(path: String): Long =
    fs(path).getFileStatus(new Path(path)).getLen

  /** Recursive byte size of a directory tree (0 when missing) — file
    * metadata only, one getContentSummary RPC, never a Spark job.
    */
  def dirSize(path: String): Long = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
  }

  /** File names (not paths) directly under `dir`; empty when the dir
    * is missing. One RPC on object stores (listStatus).
    */
  def listNames(dir: String): Seq[String] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def readAllBytes(path: String): Array[Byte] = {
    val f = fs(path)
    val p = new Path(path)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"$path too large to buffer: $len")
      val buf = new Array[Byte](len.toInt)
      in.readFully(0L, buf)
      buf
    } finally in.close()
  }

  /** First `n` bytes of `path` (fewer when the file is shorter) —
    * header sniffing without pulling the whole object.
    */
  def readHead(path: String, n: Int): Array[Byte] = {
    val f = fs(path)
    val p = new Path(path)
    val len = math.min(f.getFileStatus(p).getLen, n.toLong).toInt
    val in = f.open(p)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0L, buf)
      buf
    } finally in.close()
  }

  /** Open for streaming reads — the face for parsers that must not
    * materialize the object (no size ceiling, O(buffer) memory).
    */
  def open(path: String): java.io.InputStream =
    new java.io.BufferedInputStream(fs(path).open(new Path(path)))

  def readString(path: String): String =
    new String(readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  def readLines(path: String): Seq[String] =
    readString(path).split("\n", -1).toSeq
      .map(_.stripSuffix("\r"))

  def mkdirs(dir: String): Unit = { fs(dir).mkdirs(new Path(dir)); () }

  /** Create-or-overwrite `path` with `bytes`. Object-store semantics:
    * the object appears atomically at close; there is no partial file
    * to observe.
    */
  def write(path: String, bytes: Array[Byte]): Unit = {
    val out = fs(path).create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  def writeString(path: String, text: String): Unit =
    write(path, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def delete(path: String): Unit = {
    fs(path).delete(new Path(path), true); ()
  }

  /** Atomic same-FS rename (false on failure — e.g. target exists).
    * The commit primitive for stage-then-rename protocols.
    */
  def rename(src: String, dst: String): Boolean =
    fs(src).rename(new Path(src), new Path(dst))

  /** Streamed single-file copy (parents created) — the no-Spark-job
    * path for republishing already-materialized parquet part files.
    */
  def copyFile(src: String, dst: String): Unit = {
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      fs(src), new Path(src), fs(dst), new Path(dst),
      false, true, conf)
    if (!ok) throw new java.io.IOException(s"copy failed: $src -> $dst")
  }

  def fileName(path: String): String = new Path(path).getName
}
