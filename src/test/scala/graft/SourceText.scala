package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source text for the source-guard specs, with comments stripped so only
  * code occurrences count.
  */
object SourceText {

  /** The code of one source file. */
  def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  /** The code of every file under `src/main/scala`, keyed by its path
    * relative to that root. */
  lazy val main: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> code(p)).toMap
    finally walk.close()
  }

  /** Main files whose code contains `pattern`. */
  def mainFilesWith(pattern: String): Set[String] =
    main.collect { case (f, src) if src.contains(pattern) => f }.toSet
}
