package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's main sources line by line, for the specs that guard how
  * the engine is written (where it may pin, unpersist or hint a
  * broadcast): each line with its file and the top-level member it sits in.
  */
object MainSources {

  final case class Line(file: Path, member: String, text: String) {
    def fileName: String = file.getFileName.toString

    /** False for `//` lines and scaladoc or block-comment lines. */
    def isCode: Boolean = {
      val t = text.trim
      !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
    }

    override def toString: String = s"$file ($member): ${text.trim}"
  }

  private val memberDef = """^  (?:private\S* )?def (\w+)""".r

  lazy val lines: Seq[Line] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    require(files.size > 50, s"expected the engine's sources, found ${files.size} files")
    files.flatMap { f =>
      var member = ""
      Files.readAllLines(f).asScala.map { l =>
        memberDef.findPrefixMatchOf(l).foreach(m => member = m.group(1))
        Line(f, member, l)
      }
    }
  }
}
