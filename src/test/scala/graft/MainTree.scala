package graft

import java.io.File

/** The main tree's Scala sources, read by the ratchet specs
  * ([[PrivateCacheSpec]], [[SessionFactorySpec]]) from the build's base
  * directory. */
object MainTree {
  val root = new File("src/main/scala")

  def files: Seq[File] = {
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    assert(root.isDirectory, s"main tree not found at ${root.getAbsolutePath}")
    walk(root)
  }

  /** `File.scala` → `File`. */
  def owner(f: File): String = f.getName.stripSuffix(".scala")

  /** Code with comments and imports blanked, so only declarations count. */
  def code(f: File): String =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.replaceAll("//.*$", ""))
      .filterNot { l =>
        val t = l.trim
        t.startsWith("import ") || t.startsWith("*") || t.startsWith("/*")
      }
      .mkString("\n")
}
