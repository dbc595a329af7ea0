package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local-disk helpers for the benchmark's own work directories. */
object Disk {
  private def p(s: String): Path = Paths.get(s)

  /** Entry names directly under `dir` (empty when it does not exist). */
  def list(dir: String): Seq[String] =
    if (!Files.isDirectory(p(dir))) Nil
    else {
      val s = Files.list(p(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  def move(from: String, to: String): Unit =
    Files.move(p(from), p(to), StandardCopyOption.REPLACE_EXISTING): Unit

  /** Delete a file or a whole tree; absent paths are fine. */
  def delete(path: String): Unit = if (Files.exists(p(path))) {
    val s = Files.walk(p(path))
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def mkdirs(dir: String): String = {
    Files.createDirectories(p(dir)); dir
  }

  def write(path: String, bytes: Array[Byte]): Unit = {
    Option(p(path).getParent).foreach(Files.createDirectories(_))
    Files.write(p(path), bytes): Unit
  }

  def read(path: String): Array[Byte] = Files.readAllBytes(p(path))

  /** Regular files under `dir`, recursively, as (relative path, bytes). */
  def files(dir: String): Seq[(String, Long)] =
    if (!Files.exists(p(dir))) Nil
    else {
      val s = Files.walk(p(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p(dir).relativize(f).toString -> Files.size(f))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
}
