package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Fs {
  /** Bytes of all regular files under `dir` (0 when it does not exist). */
  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }
}
