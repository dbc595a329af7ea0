package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session builder: every entry point in src/main builds its
  * SparkSession through [[graft.Session]], so two numbers taken by two
  * mains run under the same master, partitions and timeouts. This spec
  * greps the source tree at test time, so a re-pasted builder or a
  * hard-coded core count fails CI. The same goes for Hadoop confs: a
  * fresh `Configuration` parses its XML resources on first lookup, so
  * src/main builds exactly one (`Fs`'s per-JVM default), and no footer
  * read goes through the single-argument `ParquetFileReader.open`,
  * which builds its options from a fresh one per file. The live lanes
  * land mysql/pg through one streaming query over ChangelogSource,
  * with no AvailableNow drain beside it, so a second landing copy
  * fails CI too.
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

  test("src/main builds one Hadoop Configuration, in graft/infra/Fs.scala") {
    val built = mainCode.flatMap { case (rel, code) =>
      Seq.fill("""new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\("""
        .r.findAllIn(code).size)(rel)
    }
    assert(built == Seq("graft/infra/Fs.scala"), built.mkString(", "))
  }

  test("no src/main footer read uses the one-argument " +
      "ParquetFileReader.open") {
    /** Top-level argument count of the call whose `(` is at `open`. */
    def arity(code: String, open: Int): Int = {
      var depth = 1
      var commas = 0
      var i = open + 1
      while (depth > 0) {
        code(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ => ()
        }
        i += 1
      }
      commas + 1
    }
    val offenders = mainCode.flatMap { case (rel, code) =>
      """ParquetFileReader\.open\s*\(""".r.findAllMatchIn(code)
        .filter(m => arity(code, m.end - 1) == 1).map(_ => rel)
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("src/main starts one streaming query over ChangelogSource, the " +
      "mysql/pg landing loop, and never uses AvailableNow") {
    val readers = mainCode.flatMap { case (rel, code) =>
      Seq.fill("""format\s*\(\s*"graft\.sources\.ChangelogSource""""
        .r.findAllIn(code).size)(rel)
    }
    assert(readers == Seq("graft/config/LiveCdc.scala"),
      readers.mkString(", "))
    val liveCdc = mainCode.toMap.apply("graft/config/LiveCdc.scala")
    assert("""\.writeStream\b""".r.findAllIn(liveCdc).size == 1,
      "LiveCdc.scala starts more than one streaming query")
    val availableNow = mainCode.collect {
      case (rel, code) if code.contains("AvailableNow") => rel
    }
    assert(availableNow.isEmpty, availableNow.mkString(", "))
  }
}
