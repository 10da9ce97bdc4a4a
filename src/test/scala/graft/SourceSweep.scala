package graft

import java.io.File

/** The Scala and Java sources under a directory, for the specs that
  * sweep the code for a construct that must live in one file only. */
object SourceSweep {
  def files(dir: String): Seq[File] = walk(new File(dir)).sortBy(_.getPath)

  private def walk(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) walk(f)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    }
}
