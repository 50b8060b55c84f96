package graft

import java.io.File

/** The on-disk layout of a table directory, for layout assertions. */
object ParquetLayout {

  /** Parquet data files per directory under `root`, keyed by the
    * directory's path relative to `root` (`""` for `root` itself). */
  def filesPerDir(root: String): Map[String, Int] = {
    val base = new File(root).toPath
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(_.getName.endsWith(".parquet"))
      .groupBy(f => base.relativize(f.getParentFile.toPath).toString)
      .map { case (d, fs) => d -> fs.size }
  }
}
