package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The main source tree line by line, for the suite's spelling guards: a
  * rung, protocol or internal spelled outside its one owner is a hand
  * copy free to drift. Paths are relative to `src/main/scala`
  * (`graft/ops/TextAnalysis.scala`); the suite runs from the project root.
  */
object MainSources {

  /** Every main source line as (path, 1-based line number, line). */
  lazy val lines: Seq[(String, Int, String)] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no $root)")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- sources(root)
      (line, n) <- Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
    } yield (f.getPath.stripPrefix(s"$root/"), n + 1, line)
  }

  /** True if `path` is a main source file. */
  def exists(path: String): Boolean = lines.exists(_._1 == path)

  /** `path:line` of every line spelling `token` in a file `where` takes. */
  def spelledAt(token: String,
      where: String => Boolean = _ => true): Seq[String] =
    lines.collect { case (f, n, l) if where(f) && l.contains(token) =>
      s"$f:$n" }

  /** `path:line` of every CODE line spelling `token` in a file `where`
    * takes: scaladoc, comment and `def` lines are not calls.
    */
  def calledAt(token: String, where: String => Boolean): Seq[String] =
    lines.collect { case (f, n, l) if where(f) && l.contains(token) &&
        !Seq("*", "/*", "//").exists(l.trim.startsWith) &&
        !l.contains("def ") => s"$f:$n" }

  /** `path:line` of every scaladoc block opening after nothing but blank
    * lines since the end of another scaladoc block: the earlier block
    * then documents nothing (its definition moved away from it).
    */
  lazy val stackedDocs: Seq[String] =
    lines.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      // (inside a doc block, only blank lines since one ended, hits)
      ls.foldLeft((false, false, Seq.empty[String])) {
        case ((inDoc, afterDoc, hits), (_, n, l)) =>
          val t = l.trim
          if (inDoc) (!t.contains("*/"), t.contains("*/"), hits)
          else if (t.startsWith("/**"))
            (!t.contains("*/"), t.contains("*/"),
              if (afterDoc) hits :+ s"$f:$n" else hits)
          else (false, afterDoc && t.isEmpty, hits)
      }._3
    }

  /** `path:line contains 'b'` for every `banned` token in a file `where`
    * takes — empty when the owners alone spell them.
    */
  def strays(banned: Seq[String], where: String => Boolean): Seq[String] =
    for (b <- banned; at <- spelledAt(b, where)) yield s"$at contains '$b'"
}
