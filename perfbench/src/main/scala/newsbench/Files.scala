package newsbench

import java.nio.file.{Files => JFiles, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's own directories. */
object Files {

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) return Nil
    val s = JFiles.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** (data files, bytes) under `dir`, hidden and marker files excluded. */
  def stats(dir: String): (Long, Long) = {
    val data = walk(dir).filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }
    (data.size.toLong, data.map(JFiles.size(_)).sum)
  }

  /** Bytes of every regular file under `dir`, markers and checksums too. */
  def bytes(dir: String): Long =
    walk(dir).filter(JFiles.isRegularFile(_)).map(JFiles.size(_)).sum

  def delete(dir: String): Unit =
    walk(dir).sorted(Ordering.comparatorToOrdering(Comparator.reverseOrder[Path]()))
      .foreach(JFiles.deleteIfExists(_))
}
