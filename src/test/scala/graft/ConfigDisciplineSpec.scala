package graft

import java.lang.reflect.{Modifier, ParameterizedType, Type}

import org.scalatest.funsuite.AnyFunSuite

import graft.config.TaskConfig

/** Parse only what a lane reads: every field of `TaskConfig.Task` and
  * of each config case class it holds has a qualified reader in
  * src/main outside TaskConfig.scala. A field no lane reads is a key a
  * task silently ignores, so this spec greps the source tree at test
  * time and fails on a new parsed-but-unread field until a lane reads
  * it or it is allowlisted here with a reason.
  */
class ConfigDisciplineSpec extends AnyFunSuite {

  /** The receiver names src/main reads each config class through. A
    * class not named here has no known receiver, so each of its fields
    * counts as unread until it is added.
    */
  private val receivers: Map[String, String] = Map(
    "Task" -> """\w*[tT]ask""",
    "SourceTuning" -> "source|src",
    "SinkTuning" -> "sink",
    "CheckerOptions" -> "ck|c|_",
    "DataMarkerCfg" -> "dm",
    "MetricsConfig" -> "mc",
    "MetaCenter" -> "_",
    "ResumeFromDb" -> "r")

  /** (class, field) pairs kept without a src/main reader, and why. */
  private val allowlist: Map[(String, String), String] = Map(
    ("MetaCenter", "url") ->
      ("only DdlAwarePipeline reads the meta center, and it has no " +
        "dispatcher caller yet; ROADMAP item 7 decides that pipeline"))

  /** Config case classes reachable from `Task` through its field types
    * (generic arguments and sealed-trait cases included), with their
    * field names in declaration order.
    */
  private def configClasses: Map[String, Seq[String]] = {
    val prefix = "graft.config.TaskConfig$"
    val members =
      classOf[TaskConfig.Task].getDeclaringClass.getDeclaredClasses.toSeq
    def fields(c: Class[_]) = c.getDeclaredFields.toSeq.filterNot(f =>
      Modifier.isStatic(f.getModifiers) || f.getName.contains("$"))
    def mentioned(t: Type): Seq[Class[_]] = t match {
      case p: ParameterizedType =>
        mentioned(p.getRawType) ++
          p.getActualTypeArguments.toSeq.flatMap(mentioned)
      case c: Class[_] if c.getName.startsWith(prefix) =>
        if (c.isInterface)
          members.filter(m => m != c && c.isAssignableFrom(m))
        else Seq(c)
      case _ => Nil
    }
    def walk(seen: Set[Class[_]], c: Class[_]): Set[Class[_]] =
      if (seen(c)) seen
      else fields(c).flatMap(f => mentioned(f.getGenericType))
        .foldLeft(seen + c)(walk)
    walk(Set.empty, classOf[TaskConfig.Task]).toSeq
      .filter(c => fields(c).nonEmpty)
      .map(c => c.getSimpleName -> fields(c).map(_.getName)).toMap
  }

  /** src/main code outside TaskConfig.scala, comment lines dropped. */
  private lazy val mainCode: String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
      .filterNot(_.getName == "TaskConfig.scala")
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").linesIterator.filterNot(l => l.trim.startsWith("//") ||
          l.trim.startsWith("*") || l.trim.startsWith("/*"))
        .mkString("\n"))
      .mkString("\n")
  }

  /** A qualified access `<receiver>.<field>`, or a `case` extractor
    * pattern over the class, which binds every field.
    */
  private def isRead(cls: String, field: String): Boolean =
    receivers.get(cls).exists(r =>
      s"""\\b(?:$r)\\.$field\\b""".r.findFirstIn(mainCode).isDefined) ||
      s"""case\\s+(?:TaskConfig\\.)?$cls\\(""".r
        .findFirstIn(mainCode).isDefined

  test("the config walk reaches every TaskConfig config class") {
    val names = configClasses.keySet
    assert(Set("Task", "SourceTuning", "SinkTuning", "DataMarkerCfg",
      "CheckerOptions", "MetricsConfig", "MetaCenter", "ResumeFromLog",
      "ResumeFromDb").subsetOf(names), names)
    val d = TaskConfig.fromIni("[extractor]\nurl=/tmp/x\n[sinker]\n")
    assert(configClasses("Task") == d.productElementNames.toSeq)
    assert(configClasses("SourceTuning") ==
      TaskConfig.SourceTuning().productElementNames.toSeq)
    assert(configClasses("SinkTuning") ==
      TaskConfig.SinkTuning().productElementNames.toSeq)
  }

  test("every parsed TaskConfig field has a qualified reader in src/main") {
    val unread = for {
      (cls, fields) <- configClasses.toSeq.sortBy(_._1)
      f <- fields
      if !allowlist.contains((cls, f)) && !isRead(cls, f)
    } yield s"$cls.$f"
    assert(unread.isEmpty,
      s"${unread.size} parsed fields no src/main code reads: " +
        unread.mkString(", "))
  }
}
