package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FilterFileSystem,
  LocalFileSystem, Path}

/** The local filesystem under the `count://` scheme, counting the
  * metadata calls made through it: `count:///tmp/t` is the local
  * `/tmp/t`. Point a table root at the scheme
  * ([[CountingFileSystem.root]]) to attribute a verb's filesystem
  * calls — opens, directory listings and status probes — by kind and
  * by the directory they touch. */
final class CountingFileSystem extends FilterFileSystem(new LocalFileSystem) {
  import CountingFileSystem._

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  override def initialize(name: URI, conf: Configuration): Unit = {
    fs.initialize(URI.create("file:///"), conf)
    setConf(conf)
  }

  private def local(p: Path) = new Path("file", null, p.toUri.getPath)

  private def counted(p: Path) = new Path(Scheme, null, p.toUri.getPath)

  private def counted(st: FileStatus): FileStatus = {
    st.setPath(counted(st.getPath))
    st
  }

  /** Qualified paths keep the `count://` scheme: the local filesystem
    * refuses them as a "Wrong FS", which fails a query's planning when
    * it qualifies the data-file paths of a table under the scheme. */
  override def makeQualified(p: Path): Path =
    counted(fs.makeQualified(local(p)))

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    record("open", p)
    fs.open(local(p), bufferSize)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    record("list", p)
    fs.listStatus(local(p)).map(counted)
  }

  override def getFileStatus(p: Path): FileStatus = {
    record("status", p)
    counted(fs.getFileStatus(local(p)))
  }

  override def exists(p: Path): Boolean = {
    record("status", p)
    fs.exists(local(p))
  }
}

object CountingFileSystem {
  val Scheme = "count"

  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  /** `localRoot` under the counting scheme, installing the scheme in
    * `conf` (idempotent). */
  def root(conf: Configuration, localRoot: String): String = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    s"$Scheme://$localRoot"
  }

  /** Calls of `kind` (`open`, `list` or `status`) on paths in a
    * directory named `dir` (the path itself for `list`), since the
    * last [[reset]]. */
  def calls(kind: String, dir: String): Int =
    Option(counts.get((kind, dir))).map(_.get).getOrElse(0)

  def reset(): Unit = counts.clear()

  private def record(kind: String, p: Path): Unit = {
    val dir = if (kind == "list") p.getName else p.getParent.getName
    counts.computeIfAbsent((kind, dir), _ => new AtomicInteger()).incrementAndGet()
  }
}
