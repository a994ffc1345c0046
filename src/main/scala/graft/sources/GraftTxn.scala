package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE ATOMIC PUBLISH over [[GraftTable]]s — the
  * all-or-nothing `CALL etl` shape (dims + fact land together or not
  * at all; ref: MotherProcedure.sql:2-25's single-transaction
  * orchestration) generalized to a lakehouse layout, where each table
  * has its own independent commit log.
  *
  * Protocol (write-audit-publish, cross-table form):
  *   1. STAGE: each table's keyed-MERGE upsert runs in full — data
  *      files, stats sidecars, and a manifest PUBLISHED WITH A
  *      `#txn <id> <coordinatorDir>` header. Readers treat such a
  *      manifest as nonexistent until the transaction commits
  *      (GraftTable's version resolution skips it; explicit time
  *      travel to it refuses), so however many tables have staged,
  *      every reader still serves the OLD snapshot of every table.
  *   2. COMMIT: ONE create-if-absent file —
  *      `<coordinatorDir>/txn-<id>.commit` — is the atomic point.
  *      The instant it exists, every staged manifest is simultaneously
  *      committed state; there is no window where a reader can see
  *      table A's new version next to table B's old one.
  *
  * Crash semantics: a crash BEFORE the marker leaves staged manifests
  * that no reader ever serves — the transaction simply never happened
  * ([[abort]] removes the staging; vacuum treats staged data files as
  * pinned until then, so an in-flight commit racing a vacuum is safe).
  * A crash AFTER the marker is a committed transaction — all tables
  * serve the new versions on the next read, no recovery step.
  *
  * Concurrency: a staged manifest occupies its version number, so a
  * concurrent single-table writer collides with the usual
  * [[GraftTable.ConcurrentCommitException]] and retries/aborts —
  * staged transactions serialize against ordinary DML instead of
  * silently interleaving with it. An abandoned staging (crashed
  * coordinator) blocks that table's writers until [[abort]] — or, past
  * the staleness horizon, until a blocked writer reaps it itself
  * ([[GraftTable]]'s stale-staging takeover) — the same
  * death-detection rule the broker-log producer claims use.
  *
  * COMMIT-vs-ABORT is decided by ONE atomic file creation: both verbs
  * race create-if-absent on the SAME `txn-<id>.commit` path — commit
  * writes the txn id, abort writes the `aborted` tombstone — so a
  * recovery abort running concurrently with a slow coordinator's
  * commit can never yield the half-published state (marker present,
  * some staged manifests deleted): whichever creation wins decides,
  * and the loser reads the verdict and conforms. Staged manifests are
  * only ever deleted AFTER the abort tombstone is durably the verdict.
  *
  * A COMMITTED transaction's visibility must not depend on the
  * coordinator directory's retention forever (a later cleanup of
  * `coordinatorDir` would silently revert committed head versions to
  * 'pending' — readers rolling back, writers colliding): commit
  * LOCALIZES the verdict by copying a `_log/txn-<id>.committed` marker
  * into each participating table's own log, and any reader that
  * resolves the coordinator marker self-heals the local copy — after
  * which the coordinator directory is garbage.
  *
  * Scale shape: the data plane is each table's ordinary distributed
  * upsert; the coordinator adds exactly one metadata file per
  * transaction and one header line per table — O(tables) driver-side
  * metadata, zero extra data I/O. */
object GraftTxn {

  /** One table's contribution to a transaction: a keyed-MERGE batch
    * (same semantics as [[GraftTable.upsert]]). */
  final case class TableWrite(root: String, batch: DataFrame, key: String,
      nBuckets: Int = 8)

  private def fsOf(dir: String, spark: SparkSession) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def markerPath(dir: String, id: String) =
    new org.apache.hadoop.fs.Path(dir, s"txn-$id.commit")

  /** Stage every write, then commit atomically. Returns the txn id.
    * If ANY staging fails (constraint violation, commit race), the
    * already-staged tables are aborted and the failure rethrown — no
    * table ever publishes alone. */
  def publishAll(spark: SparkSession, coordinatorDir: String,
      writes: Seq[TableWrite]): String = {
    val id = stageAll(spark, coordinatorDir, writes)
    commit(spark, coordinatorDir, id, writes.map(_.root))
    id
  }

  /** Phase 1 alone (staged, uncommitted) — exposed so crash-recovery
    * tests and gates can stop exactly between staging and the marker;
    * production callers use [[publishAll]]. */
  private[graft] def stageAll(spark: SparkSession, coordinatorDir: String,
      writes: Seq[TableWrite]): String = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_.root).distinct.size == writes.size,
      "a table may appear once per transaction")
    val id = java.util.UUID.randomUUID().toString.take(12)
    val (f, _) = fsOf(coordinatorDir, spark)
    f.mkdirs(new org.apache.hadoop.fs.Path(coordinatorDir))
    val txn = GraftTable.TxnRef(id, coordinatorDir)
    val staged = scala.collection.mutable.ListBuffer.empty[TableWrite]
    writes.foreach { w =>
      try {
        GraftTable.upsertOnce(spark, w.root, w.batch, w.key, w.nBuckets,
          Some(txn))
        staged += w
      } catch {
        case e: Throwable =>
          // all-or-nothing: un-stage what already landed, then surface
          abort(spark, coordinatorDir, id, staged.map(_.root).toSeq)
          throw e
      }
    }
    id
  }

  /** The tombstone content an abort writes into the marker path — the
    * losing-creation reader's verdict discriminator. A txn id never
    * matches it ([A-Za-z0-9-], and ids are UUID prefixes). */
  private[sources] val AbortedVerdict = "aborted"

  /** Phase 2: the atomic commit point — create-if-absent of the SAME
    * marker path [[abort]] races for. Losing the creation to a
    * concurrent abort surfaces as an error (the transaction is dead;
    * its staging is being cleaned); losing it to an identical commit
    * (a retried coordinator) is idempotent success. After winning,
    * the verdict is LOCALIZED into each table's own `_log` so
    * committed history never depends on the coordinator directory's
    * retention ([[GraftTable]] self-heals the same marker on read). */
  private[graft] def commit(spark: SparkSession, coordinatorDir: String,
      id: String, roots: Seq[String] = Seq.empty): Unit = {
    val (f, _) = fsOf(coordinatorDir, spark)
    try GraftTable.writeAtomic(f, markerPath(coordinatorDir, id), id)
    catch {
      case e: GraftTable.ConcurrentCommitException =>
        val verdict = readMarker(f, markerPath(coordinatorDir, id))
        if (verdict.contains(AbortedVerdict))
          throw new IllegalStateException(
            s"txn $id was ABORTED by a concurrent recovery — its staged " +
              "manifests are gone; re-stage and retry", e)
        // else: an identical commit already won — idempotent success
    }
    roots.foreach(r => GraftTable.localizeTxnCommit(spark, r, id))
  }

  private def readMarker(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = f.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Remove an UNCOMMITTED transaction's staged manifests from the
    * named tables (their data files become ordinary vacuum-swept
    * orphans) — the recovery verb for a coordinator that died between
    * staging and commit. The abort-vs-commit race is decided by ONE
    * atomic creation: abort writes the `aborted` tombstone into the
    * same marker path commit creates, and only the winner's verdict
    * stands — staged manifests are deleted strictly AFTER the
    * tombstone is durable, so a commit marker can never coexist with
    * partially-deleted staging. Refuses if the transaction already
    * committed; idempotent if it was already aborted (a crashed
    * abort's cleanup just re-runs). */
  def abort(spark: SparkSession, coordinatorDir: String, id: String,
      roots: Seq[String]): Unit = {
    val (cf, _) = fsOf(coordinatorDir, spark)
    try GraftTable.writeAtomic(cf, markerPath(coordinatorDir, id),
      AbortedVerdict)
    catch {
      case e: GraftTable.ConcurrentCommitException =>
        val verdict = readMarker(cf, markerPath(coordinatorDir, id))
        if (!verdict.contains(AbortedVerdict))
          throw new IllegalStateException(
            s"txn $id is COMMITTED — cannot abort", e)
        // else: already aborted — proceed with (idempotent) cleanup
    }
    roots.foreach { root =>
      val (f, _) = fsOf(root, spark)
      val log = new org.apache.hadoop.fs.Path(root, "_log")
      if (f.exists(log)) {
        f.listStatus(log).map(_.getPath)
          .filter(_.getName.matches("v\\d{5}\\.manifest"))
          .foreach { p =>
            if (GraftTable.txnOf(GraftTable.readHead(f, p, 512))
                .exists(_._1 == id))
              f.delete(p, false)
          }
      }
    }
  }
}
