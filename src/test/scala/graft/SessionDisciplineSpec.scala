package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session builder: every entry point in src/main builds its
  * SparkSession through [[graft.Session]], so two numbers taken by two
  * mains run under the same master, partitions and timeouts. This spec
  * greps the source tree at test time, so a re-pasted builder or a
  * hard-coded core count fails CI.
  */
class SessionDisciplineSpec extends AnyFunSuite {

  /** (path under src/main/scala, code with comment lines dropped). */
  private def mainCode: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala")).map { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.getPath.stripPrefix("src/main/scala/") -> text.linesIterator
        .filterNot(l => l.trim.startsWith("//") ||
          l.trim.startsWith("*") || l.trim.startsWith("/*"))
        .mkString("\n")
    }
  }

  test("graft/Session.scala holds the only SparkSession builder") {
    val builders = mainCode.flatMap { case (rel, code) =>
      Seq.fill("SparkSession.builder".r.findAllIn(code).size)(rel)
    }
    assert(builders == Seq("graft/Session.scala"), builders.mkString(", "))
  }

  test("no src/main code hard-codes a local[<n>] master") {
    val offenders = mainCode.collect {
      case (rel, code) if "local\\[\\d+\\]".r.findFirstIn(code).isDefined =>
        rel
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
