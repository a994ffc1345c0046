package whbench

import java.io.File

object Fs {
  /** Bytes of every regular file under `path`. */
  def du(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else f.length()
    go(new File(path))
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }
}
