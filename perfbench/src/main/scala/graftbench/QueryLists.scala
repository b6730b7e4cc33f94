package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Committed query lists: one query name per line, optionally followed by
  * a tab and a note; `#` starts a comment line. */
object QueryLists {
  def read(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")(0))
}
