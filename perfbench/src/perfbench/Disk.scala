package perfbench

import java.nio.file.{Files, Path}

/** Filesystem bookkeeping the benchmark does from outside the engine:
  * what a run wrote, and its scratch directories. */
object Disk {
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Regular files under `p` with their sizes, keyed by path. */
  def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(f => b += f.toString -> Files.size(f))
        b.result()
      } finally s.close()
    }

  /** Files under `p` that `before` did not list, with their sizes. */
  def added(p: Path, before: Map[String, Long]): Map[String, Long] =
    listing(p).filter { case (f, _) => !before.contains(f) }

  /** The entries of directory `d`; none when it does not exist. */
  def children(d: Path): Seq[Path] =
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(_.toString) finally s.close()
    }
}
