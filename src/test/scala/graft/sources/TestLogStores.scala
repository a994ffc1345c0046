package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Runs `racer` once, just before the first manifest publish it is
  * asked for, then hands every publish to the default filesystem store
  * — a deterministic "another writer committed after my snapshot" for
  * any verb. The racer's own commits pass straight through. */
final class RaceOnceLogStore(racer: () => Unit) extends GraftLogStore {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)

  override def publish(f: FileSystem, dest: Path, content: String): Unit = {
    if (dest.getName.endsWith(".manifest") && fired.compareAndSet(false, true))
      racer()
    LocalFsLogStore.publish(f, dest, content)
  }
}

/** Loses every manifest publish as a race (sidecars still publish) and
  * counts the attempts — a table whose every commit is beaten. */
final class RefuseManifestsLogStore extends GraftLogStore {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  override def publish(f: FileSystem, dest: Path, content: String): Unit =
    if (dest.getName.endsWith(".manifest")) {
      attempts.incrementAndGet()
      throw new GraftTable.ConcurrentCommitException(
        s"concurrent commit: $dest refused")
    } else LocalFsLogStore.publish(f, dest, content)
}
