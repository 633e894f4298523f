package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result file and the span dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Filesystem accounting for write and space amplification. A file is
  * identified by its inode together with its modification time and size:
  * a hard-linked carry keeps all three, so it counts once, while a file
  * written later on an inode number freed by a deleted file has a new
  * modification time, so it counts as new. */
final class InodeLedger {
  private val seen = scala.collection.mutable.HashSet.empty[FileId]

  /** Bytes of the files under `roots` not seen before. */
  def scan(roots: Seq[Path]): Long =
    roots.flatMap(Disk.files).collect { case id if seen.add(id) => id.size }.sum
}

final case class FileId(inode: AnyRef, mtime: java.nio.file.attribute.FileTime, size: Long)

object FileId {
  def of(a: BasicFileAttributes): FileId = FileId(a.fileKey(), a.lastModifiedTime(), a.size())
  def of(p: Path): FileId = of(Files.readAttributes(p, classOf[BasicFileAttributes]))
}

object Disk {
  /** Every regular file under `root`. */
  def files(root: Path): Seq[FileId] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.flatMap { p =>
        try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(FileId.of(a)) else None
        } catch { case _: java.io.IOException => None } // swapped away mid-walk
      }.toList
      finally st.close()
    }

  /** Bytes on disk under `root`, each inode counted once. */
  def uniqueBytes(root: Path): Long = new InodeLedger().scan(Seq(root))
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(x => Files.deleteIfExists(x))
    finally st.close()
  }
}
