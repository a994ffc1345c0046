package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A minimal versioned table format: immutable parquet data files plus
  * a manifest log, giving snapshot reads, time travel, copy-on-write
  * upsert/delete with FILE-LEVEL PRUNING, schema evolution
  * ([[evolveAddColumns]] — metadata-only commits), bloom-filter point
  * lookup skipping ([[readPoint]]), a pruned change data feed
  * ([[changes]]), and vacuum — the storage contract
  * (Delta/Iceberg-shaped, implemented from scratch) that the
  * write-path operators (q204 MERGE, q201 snapshot diff, q126/q186
  * compaction) assume underneath them.
  *
  * Layout under `root/`:
  * {{{
  *   data/v00000-x/part-*.parquet   immutable; never rewritten in place
  *   data/v00000-x/part-*.parquet.bloom  per-file bloom sidecar (opt-in)
  *   data/v00001-y/part-*.parquet   only files CHANGED by commit 1
  *   _log/key.json                  the key column (`hash` marks a string key)
  *   _log/bloom.json                the declared bloom column (opt-in)
  *   _log/v00000.manifest           snapshot 0: header + one line per live file
  *   _log/v00001.manifest           snapshot 1: carried + new files
  *   _log/colstats-v00001-ab12cd34.tsv  per-file stats staged with commit 1
  * }}}
  *
  * A manifest starts with `#` HEADER lines: the commit instant, the
  * sidecar token, the MV cursor and the cross-table txn reference
  * (each optional past the first two), then the version's DEFINITION —
  * `#schema <json>`, `#partition <transform>` (partitioned tables) and
  * `#layout <n>` (hash-bucket tables) — and last the pending equality
  * deletes. So one manifest read says what a version looks like, and
  * every commit carries the definition forward or replaces it.
  *
  * Per-file stats SIDECARS (colstats / NDV digests) are staged under
  * ATTEMPT-UNIQUE token names recorded in the owning manifest's
  * `#sidecar <tok>` header — two racing commits can never touch each
  * other's staged files, and a loser's (or crashed attempt's)
  * leftovers are unreachable junk that vacuum reaps.
  *
  * A manifest line has 5 fields, `relPath minKey maxKey nRows nBytes`
  * (tab-separated), or 7 with a deletion vector (DV): `dvPath dvRows`
  * follow. The key intervals are the per-file statistics that make
  * MERGE prune: a commit
  * rewrites ONLY the files whose [minKey, maxKey] interval contains a
  * batch key (everything else is carried forward by reference), which
  * is what bounds a 1,000-row upsert against a 100 TB table to
  * touching a handful of files instead of rewriting the table. Data
  * is range-bucketed by key at write time so those intervals are
  * narrow and disjoint.
  *
  * Commit protocol: data files are written BEFORE the manifest, and
  * the manifest is published with create-if-absent semantics (write
  * to a temp name, then rename onto the versioned name only if it
  * does not exist). A reader only ever sees fully-written snapshots;
  * a failed commit leaves orphan data files that `vacuum` sweeps. Two
  * racing committers of the same version: one wins the rename, the
  * loser throws — optimistic concurrency, retry by re-reading the new
  * snapshot. (On an object store without atomic rename, point the log
  * at a CAS-capable store — same contract Delta documents.)
  *
  * All data paths are executor-side (DataFrame write/read); only the
  * file LEDGER (metadata, ~10^5 lines at 100 TB) touches the driver —
  * the same driver-side footprint every table format carries.
  *
  * The key column must be an integral type (stats are stored as
  * longs). Time travel reads any un-vacuumed version by number.
  */
object GraftTable {

  /** Thrown when a commit loses the create-if-absent manifest rename to
    * a racing committer — the optimistic-concurrency conflict signal
    * [[upsert]]/[[applyCdcBatch]] retry on. */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** Monotone counter bumped on EVERY in-process manifest publish (all
    * write paths funnel through [[commitManifest]]) — the
    * read-your-writes invalidation signal for planning-time memos
    * ([[GraftMvRewrite]]): a memo stamped with an older epoch is stale
    * the instant this session commits anywhere, so a same-session
    * write can never be served a pre-write cached head. Cross-process
    * writers are bounded by the memo TTL instead (equivalent to the
    * unavoidable plan-to-execute TOCTOU window). */
  private[sources] val commitEpoch =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Thrown when a write's rows violate a declared CHECK constraint —
    * the commit never publishes (head unchanged, staged files are
    * vacuum-swept orphans). NOT a retry signal. */
  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  /** One manifest line. `nBytes` is the data file's on-disk size,
    * recorded at write time so scan statistics ([[snapshotStats]], the
    * DSv2 `SupportsReportStatistics` surface) are a pure metadata pass.
    *
    * `dvPath`/`dvRows` (round 13): a DELETION VECTOR reference — a
    * sidecar of this file's DELETED row positions (merge-on-read DML:
    * the Delta-DV/Iceberg-position-delete answer to copy-on-write
    * write amplification). Empty = no DV (every pre-DV line). `nRows`
    * stays the file's PHYSICAL row count; live rows = nRows − dvRows.
    * Key min/max remain SUPERSET bounds under a DV (pruning stays
    * sound, metadata min/max answers degrade — see
    * [[snapshotKeyStats]]). */
  private[sources] final case class FileEntry(
      relPath: String, minKey: Long, maxKey: Long, nRows: Long,
      nBytes: Long, dvPath: String = "", dvRows: Long = 0L) {
    def liveRows: Long = nRows - dvRows
    def hasDv: Boolean = dvPath.nonEmpty
  }

  /** A pending EQUALITY DELETE: a set of `nKeys` key values written
    * under `data/<relDir>/` at commit `version`, retiring every
    * same-key row in files ADDED BEFORE that commit (Iceberg v2's
    * equality-delete sequencing: the delete applies to data files
    * with a smaller sequence number — here, the version embedded in
    * the file's `data/vNNNNN-…/` directory name). The ingest side of
    * merge-on-read taken to its limit: [[appendUpsert]] lands a CDC
    * batch as fresh files + one key list, ZERO base files read —
    * position lookup is deferred to [[resolveEqDels]], which pays the
    * read once instead of once per micro-batch. Pending eqdels ride
    * the manifest HEADER (`#eqdel` lines), so the set is atomic with
    * the commit and carried forward explicitly by every writer. */
  private[sources] final case class EqDel(
      version: Int, relDir: String, nKeys: Long)

  /** Parse `#eqdel\tversion\trelDir\tnKeys` header lines. */
  private def parseEqDels(text: String): Seq[EqDel] =
    text.linesIterator.takeWhile(_.startsWith("#"))
      .filter(_.startsWith("#eqdel\t"))
      .map { l =>
        val p = l.split('\t')
        EqDel(p(1).toInt, p(2), p(3).toLong)
      }.toSeq

  /** The pending equality deletes of `version`'s snapshot (empty for
    * eqdel-free tables — the common case costs one header read). */
  private[sources] def pendingEqDels(spark: SparkSession, root: String,
      version: Int): Seq[EqDel] = {
    val (f, _) = fs(root, spark)
    val p = manifestPath(root, version)
    if (!f.exists(p)) Seq.empty else parseEqDels(readHeader(f, p))
  }

  /** A version's DEFINITION, carried in its manifest header: the
    * schema (`#schema <json>`), the partition transform (`#partition
    * <render>`, absent when unpartitioned) and the hash-bucket count
    * (`#layout <n>`, absent without a hash layout). A commit carries
    * its snapshot's definition forward unless the commit changes it,
    * so time travel reads each version with the column set, pruning
    * transform and bucket count its files were written under — the
    * Delta `metaData` action, kept in the commit itself. */
  private[sources] final case class TableMeta(schema: StructType,
      spec: Option[PartitionTransform], layout: Option[Int]) {
    def header: String = {
      val cols = schema
      s"#schema\t${cols.json}\n" +
        spec.map(p => s"#partition\t${p.render}\n").getOrElse("") +
        layout.map(n => s"#layout\t$n\n").getOrElse("")
    }
  }

  /** Parse the definition lines of a manifest header. Every column reads
    * NULLABLE whatever the create-time batch promised: the format's DML
    * can legally write NULL into any non-key column (UPDATE SET col =
    * NULL, MERGE INSERT with unassigned columns), so a non-null flag
    * would let codegen skip null checks and NPE on a later read — the
    * Delta contract (columns nullable absent an explicit constraint). */
  private def parseMeta(header: String): TableMeta = {
    val lines = header.linesIterator.takeWhile(_.startsWith("#"))
      .map(l => l.span(_ != '\t')).filter(_._2.nonEmpty)
      .map { case (k, v) => k -> v.tail }.toMap
    val raw = org.apache.spark.sql.types.DataType.fromJson(lines.getOrElse(
      "#schema", throw new IllegalStateException(
        "manifest without a #schema header"))).asInstanceOf[StructType]
    TableMeta(StructType(raw.fields.map(_.copy(nullable = true))),
      lines.get("#partition").map(PartitionTransform.parse),
      lines.get("#layout").map(_.toInt))
  }

  /** The `#` header of the manifest at `p`, streamed up to the first
    * entry line — the file list is never read. */
  private def readHeader(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      f.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine())
      .takeWhile(l => l != null && l.startsWith("#")).mkString("", "\n", "\n")
    finally in.close()
  }

  /** The definition of `version`: one streamed header read. */
  private[sources] def tableMeta(spark: SparkSession, root: String,
      version: Int): TableMeta = {
    val (f, _) = fs(root, spark)
    val header =
      try readHeader(f, manifestPath(root, version))
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"version $version does not exist under $root")
      }
    parseMeta(header)
  }

  /** The commit version a data file was ADDED at, parsed from its
    * `data/vNNNNN-xxxxxxxx/` directory segment (stable across
    * carry-forward — a carried file keeps its birth directory; a
    * rewritten file gets the rewriting commit's). Works for
    * table-relative and absolute (shallow-clone) references alike.
    * Only consulted when equality deletes pend, so legacy paths that
    * predate the naming scheme fail loud rather than mask wrongly. */
  private[sources] def addedVersion(relPath: String): Int =
    AddedVersionRx.findFirstMatchIn(relPath) match {
      case Some(m) => m.group(1).toInt
      case None => throw new IllegalStateException(
        s"cannot derive the added-version of '$relPath' — equality " +
          "deletes require version-named data directories")
    }
  private val AddedVersionRx = """(?:^|/)data/v(\d{5})-[0-9a-f]{8}/""".r

  /** Pending eqdels of `version` with ABSOLUTE key-directory paths —
    * what the DSv2 scan hands its executor-side key-set loader. */
  private[sources] def pendingEqDelDirs(spark: SparkSession, root: String,
      version: Int): Seq[(Int, String, Long)] =
    pendingEqDels(spark, root, version)
      .map(e => (e.version, dataPath(root, e.relDir), e.nKeys))

  /** The eqdels of `eqdels` that actually APPLY to `e` (committed
    * after the file was added). */
  private def eqDelsApplying(e: FileEntry, eqdels: Seq[EqDel]): Seq[EqDel] =
    if (eqdels.isEmpty) Seq.empty
    else eqdels.filter(_.version > addedVersion(e.relPath))

  private def fs(root: String, spark: SparkSession) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(root, f"_log/v$v%05d.manifest")

  /** Resolve a manifest file reference: table-relative (`data/v…/…`,
    * the normal case) or ABSOLUTE (`/…` or `scheme://…`) — how a
    * SHALLOW CLONE references its source's immutable files without
    * copying a byte ([[cloneTable]]). Vacuum only ever deletes under
    * its own root, so absolute (foreign) references are naturally
    * outside its reach. */
  private[sources] def dataPath(root: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains("://")) rel else s"$root/$rel"

  private def readFully(
      f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The installed commit-log store — the PUBLISH primitive every
    * `_log` write routes through ([[GraftLogStore]]). Default:
    * [[LocalFsLogStore]] (link(2) locally, exists+rename on HDFS-like
    * schemes — the behavior the format always had). An object-store
    * deployment installs a CAS-capable store here; the spec harness
    * runs the same race loops against [[InMemoryCasLogStore]] to
    * prove the protocol needs exactly one conditional-put. */
  private val logStoreRef = new java.util.concurrent.atomic
    .AtomicReference[GraftLogStore](LocalFsLogStore)

  /** Install a commit-log store process-wide (`null` restores the
    * default filesystem store). */
  def setLogStore(s: GraftLogStore): Unit =
    logStoreRef.set(Option(s).getOrElse(LocalFsLogStore))

  /** Run `body` with `s` installed, restoring the previous store
    * after — the spec harness verb. */
  def withLogStore[T](s: GraftLogStore)(body: => T): T = {
    val prev = logStoreRef.get()
    logStoreRef.set(s)
    try body finally logStoreRef.set(prev)
  }

  /** Create-if-absent publish — the commit point of every write path,
    * delegated to the installed [[GraftLogStore]]. Two racing
    * committers of one path: exactly one wins; the loser throws
    * [[ConcurrentCommitException]] (see the round-14/15 history: a
    * publish that can silently overwrite is a lost-update on the
    * commit log itself). */
  private[sources] def writeAtomic(
      f: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, content: String): Unit =
    logStoreRef.get().publish(f, dest, content)

  /** Publish a MUTABLE metadata ref (table property, tag, CHECK
    * constraint): these are delete-then-create last-writer-wins by
    * design, so they bypass the installed CAS store — whose write-once
    * arbitration would refuse a legitimate second SET of the same
    * name — and keep the filesystem-native create-exclusive. Commit
    * correctness never rides these files; the manifests do. */
  private def writeAtomicMutable(
      f: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, content: String): Unit =
    LocalFsLogStore.publish(f, dest, content)

  /** A cross-table transaction reference: staged manifests carry
    * `#txn <id> <coordinatorDir>` and stay INVISIBLE to every reader
    * until `<coordinatorDir>/txn-<id>.commit` exists — the single
    * atomic file creation that publishes every participating table's
    * new version simultaneously (see [[GraftTxn]]). */
  private[sources] final case class TxnRef(id: String, dir: String) {
    require(id.matches("[A-Za-z0-9-]{1,64}"), s"bad txn id: $id")
    require(dir.length < 300,
      "txn coordinator dir too long for the manifest header window")
  }

  /** An attempt-unique sidecar token: 8 hex chars naming every sidecar
    * THIS commit attempt stages. Tokens make sidecar staging
    * contention-free by construction — two attempts at the same
    * version stage under different names, so neither can replace (or
    * even see) the other's files. */
  private def newToken(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** The `#sidecar <token>` header of the manifest at `p` (every
    * manifest [[commitManifest]] writes has one). */
  private def sidecarTokenOf(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String =
    readHead(f, p, 512).linesIterator.takeWhile(_.startsWith("#"))
      .find(_.startsWith("#sidecar\t")).map(_.split('\t')(1).trim)
      .getOrElse(throw new IllegalStateException(
        s"manifest without a #sidecar header: $p"))

  /** Parse the `#cursor` header line: the position of the one writer
    * that keeps its progress IN this table's log — an MV refresh
    * records the source/dim versions its rows reflect
    * ([[GraftMv.refresh]]), Delta's `SetTransaction(appId, version)`.
    * Every commit carries the caller's snapshot's cursor forward, so
    * foreign commits (OPTIMIZE, auto-maintenance, restore) keep it. */
  private def parseCursor(text: String): Option[String] =
    text.linesIterator.takeWhile(_.startsWith("#"))
      .find(_.startsWith("#cursor\t")).map(_.split('\t')(1))

  /** The `#cursor` of `root`'s head (None before the first commit or
    * on a table no cursor-keeping writer owns). One bounded header
    * read. */
  private[sources] def headCursor(spark: SparkSession,
      root: String): Option[String] = {
    val v = latestVersion(spark, root)
    if (v < 0) None
    else parseCursor(readHead(fs(root, spark)._1, manifestPath(root, v), 512))
  }

  /** Publish `version`'s manifest — the commit point of every write
    * path — together with its per-file stats sidecars (colstats / NDV
    * digests), staged here under ATTEMPT-UNIQUE token names
    * (`colstats-v{N}-<tok>.tsv`, …) recorded in the manifest header as
    * `#sidecar <tok>`: staging can never collide with — let alone
    * replace — another attempt's files, and a race loser's or crashed
    * attempt's leftovers are invisible junk (the loser deletes its own
    * on the spot; vacuum reaps crash orphans).
    *
    * The header carries everything else a version is, so it commits in
    * the one create-if-absent rename: `meta` (the schema, partition
    * transform and hash layout — [[TableMeta]]) is the caller's
    * snapshot's unless the commit changes it (create, clone, the
    * schema and layout verbs; restore copies the restored version's).
    * `eqdels` is the pending equality-delete set the new version
    * carries — likewise the snapshot's unless the commit changes it
    * (appendUpsert adds, resolveEqDels clears, a full rewrite drops):
    * a plain upsert/OPTIMIZE between an eqdel ingest and its resolve
    * must not silently un-delete keys. `cursor` is the snapshot's
    * `#cursor` unless the commit advances it (the MV refresh). `branch`
    * publishes into that branch's own lineage directory instead of
    * `_log` — same names, same protocol. */
  private def commitManifest(spark: SparkSession,
      root: String, v: Int, entries: Seq[FileEntry], eqdels: Seq[EqDel],
      cursor: Option[String], meta: TableMeta,
      statLines: Seq[String] = Seq.empty,
      kmvLines: Seq[String] = Seq.empty,
      txn: Option[TxnRef] = None,
      beforePublish: () => Unit = () => (),
      branch: Option[String] = None): Unit = {
    require(cursor.forall(n => !n.exists(c => c == '\t' || c == '\n') &&
      n.length <= 120), "manifest cursor must be one short tab-free line")
    val (f, _) = fs(root, spark)
    val log = branch.fold(new org.apache.hadoop.fs.Path(root, "_log"))(
      branchDir(root, _))
    def in(p: org.apache.hadoop.fs.Path) =
      new org.apache.hadoop.fs.Path(log, p.getName)
    val tok = newToken()
    val staged = scala.collection.mutable.ListBuffer[org.apache.hadoop.fs.Path]()
    def stage(p: org.apache.hadoop.fs.Path, content: String): Unit = {
      writeAtomic(f, in(p), content); staged += in(p)
    }
    try {
      if (statLines.nonEmpty) stage(colStatsPath(root, v, tok),
        statLines.mkString("", "\n", "\n"))
      if (kmvLines.nonEmpty) stage(kmvPath(root, v, tok),
        kmvLines.mkString("", "\n", "\n"))
      // test seam: the window between sidecar staging and the manifest
      // rename — where a concurrent committer of the same version can
      // land first (the interleaving behind the round-14 corruption)
      beforePublish()
      // the commit instant is recorded INSIDE the manifest (header
      // line), not left to the file's mtime: an rsync/restore that
      // doesn't preserve mtimes must not silently shift every
      // TIMESTAMP AS OF resolution.
      //
      // The instant is CLAMPED to strictly exceed the previous
      // version's (Delta's in-commit-timestamp rule): resolveTimestamp
      // binary-searches on the premise that instants are monotone over
      // versions, and multi-writer clock skew (or a clock step) would
      // otherwise let a later version record an earlier instant and
      // make the search resolve the wrong snapshot. v−1 always exists
      // here (we commit latest+1 and vacuum keeps a contiguous tail).
      val prev = if (v == 0) None
        else Some(in(manifestPath(root, v - 1))).filter(f.exists)
      val instant = math.max(prev.fold(Long.MinValue)(commitInstant(f, _) + 1),
        System.currentTimeMillis())
      // the definition and eqdel lines go AFTER #txn: #sidecar,
      // #cursor and #txn are resolved via bounded readHead probes and
      // must stay within the first bytes (`#cursor` is kept short for
      // the same reason)
      val eqLines = eqdels
        .map(e => s"#eqdel\t${e.version}\t${e.relDir}\t${e.nKeys}\n").mkString
      val header = s"#commit-ts\t$instant\n#sidecar\t$tok\n" +
        cursor.map(n => s"#cursor\t$n\n").getOrElse("") +
        txn.map(t => s"#txn\t${t.id}\t${t.dir}\n").getOrElse("") +
        meta.header + eqLines
      writeAtomic(f, in(manifestPath(root, v)), header + renderManifest(entries))
      commitEpoch.incrementAndGet()
    } catch {
      case e: Throwable =>
        // loser (or failed stage): remove OUR OWN staged files — names
        // are attempt-unique, so this can never touch a winner's state
        staged.foreach(p => f.delete(p, false))
        throw e
    }
  }

  private def parseManifest(text: String): Seq[FileEntry] =
    text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        line.split('\t') match {
          case Array(p, mn, mx, n, b) =>
            FileEntry(p, mn.toLong, mx.toLong, n.toLong, b.toLong)
          case Array(p, mn, mx, n, b, dv, dvN) => // deletion-vector line
            FileEntry(p, mn.toLong, mx.toLong, n.toLong, b.toLong,
              dv, dvN.toLong)
          case other => throw new IllegalStateException(
            s"malformed manifest line (${other.length} fields): $line")
        }
      }.toSeq

  private def renderManifest(entries: Seq[FileEntry]): String =
    entries.sortBy(_.relPath)
      .map { e =>
        val base =
          s"${e.relPath}\t${e.minKey}\t${e.maxKey}\t${e.nRows}\t${e.nBytes}"
        if (e.hasDv) s"$base\t${e.dvPath}\t${e.dvRows}" else base
      }
      .mkString("", "\n", "\n")

  /** Every committed version present in the log — ONE `listStatus`
    * call, the primitive `latestVersion`/`history`/checkpointing all
    * share (never an exists-probe per version: version resolution on a
    * long-lived table must not cost O(versions) metadata RPCs). */
  private def listManifestVersions(
      f: org.apache.hadoop.fs.FileSystem, root: String): Seq[Int] = {
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{5}\\.manifest") =>
        s.substring(1, 6).toInt }.toSeq.sorted
  }

  /** Whether `version`'s manifest is a STAGED cross-table-transaction
    * commit whose verdict has not (yet) landed — invisible to every
    * reader until then ([[TxnRef]]). Legacy and single-table manifests
    * carry no `#txn` header and are never pending. One bounded header
    * read plus one local-marker probe in the common case. */
  private def isPending(f: org.apache.hadoop.fs.FileSystem,
      root: String, version: Int): Boolean =
    txnOf(readHead(f, manifestPath(root, version), 512)).exists {
      case (id, dir) => !txnCommitted(f, root, id, dir)
    }

  private def localTxnMarker(root: String, id: String) =
    new org.apache.hadoop.fs.Path(root, s"_log/txn-$id.committed")

  /** Whether transaction `id` COMMITTED, resolved durability-first:
    * the table's own `_log/txn-<id>.committed` marker (written by the
    * commit, self-healed below) decides without touching the
    * coordinator; otherwise the coordinator marker is consulted — it
    * must exist AND not carry the abort tombstone — and a positive
    * verdict is immediately LOCALIZED, so committed history stops
    * depending on the coordinator directory's retention after the
    * first read that resolves it (cleaning up `coordinatorDir` can
    * then never revert committed versions to 'pending'). */
  private def txnCommitted(f: org.apache.hadoop.fs.FileSystem,
      root: String, id: String, dir: String): Boolean = {
    if (f.exists(localTxnMarker(root, id))) true
    else {
      val marker = new org.apache.hadoop.fs.Path(dir, s"txn-$id.commit")
      val mf = marker.getFileSystem(f.getConf)
      val committed = mf.exists(marker) &&
        readFully(mf, marker) != GraftTxn.AbortedVerdict
      if (committed) {
        try writeAtomic(f, localTxnMarker(root, id), id)
        catch { case _: ConcurrentCommitException => () } // racer localized it
      }
      committed
    }
  }

  /** STALE-STAGING TAKEOVER (the producer-claim staleness rule,
    * transaction form): a writer blocked by a staged cross-table-txn
    * manifest whose coordinator has been dead longer than `staleMs`
    * may ABORT the transaction and proceed — write availability
    * stops being hostage to a crashed coordinator, without ever
    * racing a LIVE one (the abort is decided by the same single
    * atomic marker creation [[GraftTxn.commit]] races for, so a
    * coordinator that wakes up and commits concurrently either wins
    * — staging stays — or loses and is told its txn died).
    *
    * Staleness is measured from the staged manifest's own durable
    * `#commit-ts` header; a FRESH staging is never touched. Only
    * THIS table's staged manifest is deleted here — the transaction's
    * other tables carry the same tombstoned txn id and their own
    * blocked writers (or a manual [[GraftTxn.abort]]) reap them with
    * the same rule, already past the horizon by construction.
    * Returns true iff a staged manifest was removed. */
  def reapStaleStaging(spark: SparkSession, root: String,
      staleMs: Long, nowMillis: Long = System.currentTimeMillis())
    : Boolean =
    reapStaleStagingWithHook(spark, root, staleMs, nowMillis, () => ())

  /** [[reapStaleStaging]] with a test seam invoked between the
    * liveness check and the abort-marker race — the window a SLOW
    * coordinator's concurrent commit can land in (the spec drives the
    * race deterministically; production callers use the public verb). */
  private[sources] def reapStaleStagingWithHook(spark: SparkSession,
      root: String, staleMs: Long, nowMillis: Long,
      beforeMarkerRace: () => Unit): Boolean = {
    val (f, _) = fs(root, spark)
    val latest = committedVersions(f, root).foldLeft(-1)(math.max)
    var reaped = false
    listManifestVersions(f, root).filter(_ > latest).foreach { v =>
      txnOf(readHead(f, manifestPath(root, v), 512)).foreach {
        case (id, dir) =>
          if (!txnCommitted(f, root, id, dir) &&
            commitInstantOpt(f, manifestPath(root, v))
              .exists(ts => nowMillis - ts > staleMs)) {
            beforeMarkerRace()
            val marker = new org.apache.hadoop.fs.Path(dir, s"txn-$id.commit")
            val mf = marker.getFileSystem(f.getConf)
            mf.mkdirs(marker.getParent)
            val aborted =
              try { writeAtomic(mf, marker, GraftTxn.AbortedVerdict); true }
              catch {
                case _: ConcurrentCommitException =>
                  // lost the race: either an earlier reap's tombstone
                  // (proceed) or the coordinator's commit (back off)
                  readFully(mf, marker) == GraftTxn.AbortedVerdict
              }
            if (aborted && f.delete(manifestPath(root, v), false))
              reaped = true
          }
      }
    }
    reaped
  }

  /** Localize a committed transaction's verdict into this table's own
    * log (idempotent) — called by [[GraftTxn.commit]] right after the
    * coordinator marker lands, and self-healed by [[txnCommitted]]. */
  private[sources] def localizeTxnCommit(spark: SparkSession, root: String,
      id: String): Unit = {
    val (f, _) = fs(root, spark)
    if (!f.exists(localTxnMarker(root, id))) {
      try writeAtomic(f, localTxnMarker(root, id), id)
      catch { case _: ConcurrentCommitException => () }
    }
  }

  /** Parse a `#txn <id> <dir>` header line out of a manifest head
    * window, if present. A txn line cut off by the window is an error
    * (treating it as absent could surface a half-published
    * transaction; as present-forever would brick the table). */
  private[sources] def txnOf(head: String): Option[(String, String)] = {
    val lines = head.split('\n')
    lines.iterator.takeWhile(_.startsWith("#")).flatMap { l =>
      if (!l.startsWith("#txn\t")) Iterator.empty
      else {
        val complete = head.indexOf(l) + l.length < head.length ||
          head.length < 512 // newline follows, or EOF inside the window
        if (!complete) throw new IllegalStateException(
          "manifest #txn header truncated beyond the 512-byte window")
        val parts = l.split('\t')
        Iterator.single((parts(1), parts(2)))
      }
    }.nextOption()
  }

  /** Every version a reader may serve: the manifest listing minus the
    * TRAILING run of pending (staged, unconfirmed) cross-table-txn
    * manifests. Pending manifests can only exist as a contiguous tail:
    * a later version can only be committed by a writer that saw the
    * pending one as absent from its base resolution, and the
    * create-if-absent publish makes that a collision instead. In the
    * common case (top version committed) this costs ONE header read on
    * top of the listing. */
  private def committedVersions(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[Int] = {
    val vs = listManifestVersions(f, root)
    vs.reverse.dropWhile(v => isPending(f, root, v)).reverse
  }

  /** Largest committed version, or -1 if the table does not exist. */
  def latestVersion(spark: SparkSession, root: String): Int = {
    val (f, _) = fs(root, spark)
    committedVersions(f, root).foldLeft(-1)(math.max)
  }

  /** Every version whose manifest is still PRESENT (vacuum removes
    * manifests below its horizon), ascending. What a CDF consumer
    * checks before replaying a checkpointed offset window: a start
    * version absent from this list was vacuumed while the stream was
    * down. One `listStatus`. */
  def availableVersions(spark: SparkSession, root: String): Seq[Int] = {
    val (f, _) = fs(root, spark)
    committedVersions(f, root)
  }

  /** The commit instant of `version`, epoch millis: the `#commit-ts`
    * header the commit wrote INTO its manifest — durable across
    * rsync/restore/object-store copies that rewrite mtimes. Reads only
    * the first line, never the file ledger. */
  private def commitInstant(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    commitInstantOpt(f, p).getOrElse(throw new IllegalStateException(
      s"manifest without a #commit-ts header: $p"))

  /** The manifest's first `max` bytes, read with a FILL LOOP: a single
    * `in.read(buf)` may legally return fewer bytes than requested
    * (object-store streams routinely short-read), and a header line
    * truncated mid-number would parse as a WRONG instant — silently
    * corrupting `TIMESTAMP AS OF` and, worse, `vacuumOlderThan`'s
    * horizon. Loop until the buffer is full or EOF. With [[txnOf]] this
    * is the one bounded header probe (also [[GraftTxn.abort]]'s), which
    * is why [[commitManifest]] writes `#sidecar`/`#cursor`/`#txn`
    * before the definition and eqdel lines. */
  private[sources] def readHead(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, max: Int = 256): String = {
    val in = f.open(p)
    try {
      val buf = new Array[Byte](max)
      var off = 0
      var n = 0
      while (off < max && { n = in.read(buf, off, max - off); n > 0 }) off += n
      new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The durable `#commit-ts` header instant of `version`, or None if
    * the manifest has none. A header line that is PRESENT but not fully
    * read (no newline inside the head window) is an error. */
  private def commitInstantOpt(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] = {
    val head = readHead(f, p)
    val nl = head.indexOf('\n')
    if (head.startsWith("#commit-ts\t")) {
      // complete iff newline seen, or EOF landed inside the window
      // (head shorter than the window means the whole file was read)
      if (nl < 0 && head.length >= 256)
        throw new IllegalStateException(
          s"malformed manifest header (no newline in first 256 bytes): $p")
      val line = if (nl >= 0) head.substring(0, nl) else head
      Some(line.split('\t')(1).trim.toLong)
    } else None
  }

  /** (version, commit time in epoch millis) for every retained
    * version, ascending by version, from the header instants. The
    * mapping survives exactly as long as the manifest does (vacuumed history is not
    * timestamp-resolvable, the Delta/Iceberg contract). One
    * `listStatus` + one header read per retained version (a history
    * listing is already O(versions); point resolution uses
    * [[resolveTimestamp]]'s binary search instead). */
  def commitTimestamps(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val (f, _) = fs(root, spark)
    committedVersions(f, root)
      .map(v => v -> commitInstant(f, manifestPath(root, v)))
  }

  /** `TIMESTAMP AS OF` resolution: the LARGEST version committed at or
    * before `tsMillis` — the snapshot a reader at that wall-clock
    * instant would have seen. None if the table has no version that
    * old (the caller should name the earliest available commit time in
    * its error). Binary search over the version list (commit instants
    * are monotone — commits serialize through the publish rename), so
    * resolution on a 10k-version table costs ~14 header reads, not
    * 10k. */
  def resolveTimestamp(spark: SparkSession, root: String,
      tsMillis: Long): Option[Int] = {
    val (f, _) = fs(root, spark)
    val versions = committedVersions(f, root).toIndexedSeq
    if (versions.isEmpty) return None
    // sound because instants are monotone over versions (the
    // commit-time clamp in commitManifest)
    def instant(v: Int) = commitInstant(f, manifestPath(root, v))
    var lo = 0
    var hi = versions.length - 1
    if (instant(versions(lo)) > tsMillis) return None
    // invariant: instant(versions(lo)) <= tsMillis
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (instant(versions(mid)) <= tsMillis) lo = mid
      else hi = mid - 1
    }
    Some(versions(lo))
  }

  private def loadManifest(
      spark: SparkSession, root: String, version: Int): Seq[FileEntry] =
    parseManifest(manifestText(spark, root, version))

  /** The full text of `version`'s manifest (file lines and `#` header). */
  private def manifestText(
      spark: SparkSession, root: String, version: Int): String = {
    val (f, _) = fs(root, spark)
    val p = manifestPath(root, version)
    require(f.exists(p), s"version $version does not exist under $root")
    val text = readFully(f, p)
    // a STAGED cross-table-txn version is not readable until its
    // coordinator marker lands — explicit time travel to it must
    // refuse, or a reader could see one table's half of a transaction
    text.linesIterator.takeWhile(_.startsWith("#"))
      .find(_.startsWith("#txn\t")).foreach { l =>
        val parts = l.split('\t')
        if (!txnCommitted(f, root, parts(1), parts(2)))
          throw new IllegalStateException(
            s"version $version of $root is a STAGED transaction " +
              s"(txn ${parts(1)}, uncommitted) — not readable; commit " +
              "or abort the transaction (GraftTxn)")
      }
    text
  }

  /** `(version, token)` for every listed sidecar name of the given
    * kind (`kind-vNNNNN-<tok>.<ext>`). */
  private def sidecarVersions(names: Seq[String], kind: String,
      ext: String): Seq[(Int, String)] = {
    val rx = (java.util.regex.Pattern.quote(kind) +
      "-v(\\d{5})-([0-9a-f]{8})\\." +
      java.util.regex.Pattern.quote(ext)).r
    names.collect { case rx(v, tok) => (v.toInt, tok) }
  }

  /** Schema AS OF `version`, from its manifest's `#schema` header: time
    * travel returns each snapshot with the column set it committed
    * under (a v0 read of an evolved table has no ghost columns). */
  private[graft] def tableSchema(
      spark: SparkSession, root: String, version: Int): StructType =
    tableMeta(spark, root, version).schema

  // ---- COLUMN MAPPING (Delta's name-mode contract) ----------------
  //
  // Every column has a LOGICAL name (what users see, what the schema
  // file's field name carries) and a PHYSICAL name (what the parquet
  // files store, recorded in the field's metadata under
  // `graft.physical`; absent = identical). RENAME changes only the
  // logical name — the physical name is frozen at birth — so a
  // metadata-only commit renames a 100 TB table instantly and TIME
  // TRAVEL across the rename still resolves: each version's schema
  // file maps its era's logical names onto the same physical columns.
  // DROP removes the field from the schema (old files keep the
  // physical column; new writes omit it) and tombstones the physical
  // name so a later ADD of the same logical name gets a FRESH physical
  // name — re-adding a dropped column must surface NULLs, never
  // resurrect pre-drop bytes from surviving files.
  //
  // Internal ledgers (colstats `#nulls.<c>`/`#sum.<c>`/z-order ranges)
  // are keyed by PHYSICAL name — invariant across renames, consistent
  // with every line written before mapping existed (logical ==
  // physical then).

  private val PhysicalKey = "graft.physical"

  /** The parquet-file column name behind a schema field. */
  private[sources] def physName(f: org.apache.spark.sql.types.StructField)
    : String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[sources] def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physName(f))))

  private def physMap(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physName(f)).toMap

  /** logical → physical for one column at `version` (identity for
    * unmapped/unknown names — synthetic stats columns pass through). */
  private def toPhys(spark: SparkSession, root: String, version: Int,
      column: String): String =
    physMap(tableSchema(spark, root, version)).getOrElse(column, column)

  /** Read this table's immutable data files and surface LOGICAL names:
    * the parquet scan runs under the PHYSICAL schema (files written
    * before a rename store the physical name — reading the logical
    * name would silently return NULLs), then columns are renamed
    * positionally. */
  private def readLogical(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame = {
    val phys = physicalSchema(schema)
    val df = spark.read.schema(phys).parquet(paths: _*)
    if (phys.fieldNames.sameElements(schema.fieldNames)) df
    else df.toDF(schema.fieldNames.toSeq: _*)
  }

  // ---- DELETION VECTORS (merge-on-read DML) -----------------------
  //
  // A DV is a sidecar listing a data file's DELETED row positions —
  // `data/dv-v{N}-{uuid}/<dataFileName>.dv`, newline-separated base-10
  // positions (one per deleted row, ascending). A row-level DELETE
  // commits new DVs instead of rewriting data files (the Delta-DV /
  // Iceberg-position-delete shape): write cost tracks DELETED ROWS,
  // not touched-file bytes — the answer to copy-on-write write
  // amplification, where a 10-row delete in a 1 GB file re-encodes
  // the gigabyte. Reads anti-join DV'd files' rows against their DV
  // positions (parquet's per-file `_metadata.row_index` is the join
  // key — split-aware, row-group-skip-aware); clean files keep
  // today's exact plan. OPTIMIZE absorbs DVs (a rewritten group's
  // fresh files carry none); vacuum sweeps superseded DVs with the
  // same live-set rule as data files.

  private val DvNameCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** The DV'd subset of `entries` as (positions frame of the LIVE-set
    * complement): (fileName, position) of every DELETED row. Read
    * distributedly (spark.read.text over the sidecars — DV bytes
    * never cross the driver); broadcast when the manifest's recorded
    * DV cardinality is modest, shuffle otherwise. */
  private def dvPositions(spark: SparkSession, root: String,
      entries: Seq[FileEntry], forJoin: Boolean = true): DataFrame = {
    val paths = entries.filter(_.hasDv).map(e => dataPath(root, e.dvPath))
    val dv = spark.read.textFile(paths: _*)
      .select(
        regexp_replace(element_at(split(input_file_name(), "/"), -1),
          "\\.dv$", "").as(DvNameCol),
        col("value").cast("long").as(DvPosCol))
    if (forJoin && entries.map(_.dvRows).sum <= 4L * 1000 * 1000)
      broadcast(dv)
    else dv
  }

  /** Read `entries` with DV masking, keeping a `__graft_dv_file`
    * column (the data file's NAME) for per-file operations — LOGICAL
    * column names plus the name column. Row positions come from
    * parquet's `_metadata.row_index` (exact per-file indexes however
    * Spark splits or skips row groups); deleted (file, pos) pairs are
    * anti-joined away. */
  private def readMaskedWithName(spark: SparkSession, root: String,
      schema: StructType, entries: Seq[FileEntry],
      eqdels: Seq[EqDel] = Seq.empty): DataFrame = {
    val phys = physicalSchema(schema)
    val raw = spark.read.schema(phys)
      .parquet(entries.map(e => dataPath(root, e.relPath)): _*)
      .select(col("*"),
        element_at(split(col("_metadata.file_path"), "/"), -1)
          .as(DvNameCol),
        col("_metadata.row_index").as(DvPosCol),
        col("_metadata.file_path").as(EqPathCol))
    val logical = raw.toDF(
      (schema.fieldNames.toSeq :+ DvNameCol :+ DvPosCol :+ EqPathCol): _*)
    val dvd = entries.filter(_.hasDv)
    val masked =
      if (dvd.isEmpty) logical
      else logical.join(dvPositions(spark, root, dvd),
        Seq(DvNameCol, DvPosCol), "left_anti")
    eqMask(spark, root, masked, eqdels).drop(EqPathCol)
  }

  private val EqPathCol = "__graft_eq_path"

  /** The accumulated key set of `eqdels` as (key → newest retiring
    * version): a key deleted at v₁ and re-inserted later is retired
    * only from files older than v₁ — keeping the MAX version per key
    * makes one anti-join implement the full sequencing rule.
    * Broadcast under the same cardinality bound as DV position
    * lists. */
  private def eqDelKeys(spark: SparkSession, root: String,
      eqdels: Seq[EqDel], hashMode: Boolean): DataFrame = {
    // hash-ledgered tables store the RAW string key in the sidecar —
    // row masking compares it exactly (a hash-equality mask could
    // delete an innocent colliding row)
    val k0 = split(col("value"), "\t").getItem(0)
    val keys = spark.read
      .textFile(eqdels.map(e => dataPath(root, e.relDir)): _*)
      .select(
        (if (hashMode) k0 else k0.cast("long")).as("__eq_k"),
        split(col("value"), "\t").getItem(1).cast("int").as("__eq_v"))
      .groupBy("__eq_k").agg(max("__eq_v").as("__eq_v"))
    if (eqdels.map(_.nKeys).sum <= 4L * 1000 * 1000) broadcast(keys)
    else keys
  }

  /** Apply pending EQUALITY DELETES to rows carrying [[EqPathCol]]:
    * a row dies iff its key was retired by an eqdel committed AFTER
    * the row's file was added (version parsed from the file's
    * `data/vNNNNN-…/` directory — exactly [[addedVersion]], evaluated
    * distributedly). No-op (and no plan change) when `eqdels` is
    * empty. */
  private def eqMask(spark: SparkSession, root: String, rows: DataFrame,
      eqdels: Seq[EqDel]): DataFrame =
    if (eqdels.isEmpty) rows
    else {
      val key = keyColumn(spark, root).getOrElse(throw new IllegalStateException(
        s"table at $root has pending equality deletes but no recorded " +
          "key column — cannot resolve masking"))
      val hashMode = keyHashMode(spark, root)
      val av = regexp_extract(col(EqPathCol),
        "/data/v(\\d{5})-[0-9a-f]{8}/", 1).cast("int")
      val keys = eqDelKeys(spark, root, eqdels, hashMode)
      val keyEq =
        if (hashMode) col(key) === col("__eq_k")
        else col(key).cast("long") === col("__eq_k")
      rows.withColumn("__eq_av", av)
        .join(keys, keyEq && col("__eq_v") > col("__eq_av"), "left_anti")
        .drop("__eq_av")
    }

  /** Snapshot-correct read of `entries`: DV-less files take the exact
    * pre-DV plan (plain pinned-schema parquet scan); DV'd files read
    * masked and union in. EVERY internal consumer of a manifest's
    * rows goes through here, so merge-on-read correctness is by
    * construction on every path (read, range/point/2D reads, CDF,
    * rewrite inputs of UPSERT/DELETE/MERGE/OPTIMIZE). */
  private def readEntries(spark: SparkSession, root: String,
      schema: StructType, entries: Seq[FileEntry],
      eqdels: Seq[EqDel]): DataFrame = {
    // files untouched by any pending eqdel (added at or after the
    // newest one — or no eqdels at all) keep the exact pre-eqdel plan
    val (subject, exempt) =
      entries.partition(e => eqDelsApplying(e, eqdels).nonEmpty)
    val (dvd, clean) = exempt.partition(_.hasDv)
    val base =
      if (exempt.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (dvd.isEmpty)
        readLogical(spark, schema, clean.map(e => dataPath(root, e.relPath)))
      else {
        val masked = readMaskedWithName(spark, root, schema, dvd)
          .drop(DvNameCol, DvPosCol)
        if (clean.isEmpty) masked
        else readLogical(spark, schema,
          clean.map(e => dataPath(root, e.relPath))).unionByName(masked)
      }
    if (subject.isEmpty) base
    else base.unionByName(
      readMaskedWithName(spark, root, schema, subject, eqdels)
        .drop(DvNameCol, DvPosCol))
  }

  /** Whether any live file at `version` carries a deletion vector —
    * the guard metadata-exact answers check before trusting per-file
    * ledgers that describe PHYSICAL file content. */
  def hasDeletionVectors(spark: SparkSession, root: String,
      version: Int): Boolean =
    loadManifest(spark, root, version).exists(_.hasDv)

  /** Whether any PENDING EQUALITY DELETE still applies to a live file
    * at `version` — the guard in front of every metadata-exact answer
    * (row counts, sums, null ledgers): an unresolved key set makes
    * live-row arithmetic unknowable without a scan. Self-heals: once
    * every subject file is rewritten (or [[resolveEqDels]] runs), a
    * stale pending list stops tripping the guard. */
  def hasLiveEqDels(spark: SparkSession, root: String,
      version: Int): Boolean = {
    val eq = pendingEqDels(spark, root, version)
    eq.nonEmpty &&
      loadManifest(spark, root, version)
        .exists(e => eqDelsApplying(e, eq).nonEmpty)
  }

  /** Partition transform AS OF `version`, from its manifest's
    * `#partition` header — partitioning is versioned metadata, so a
    * time-travel read prunes with the transform that was active when
    * its files were written. None = unpartitioned. */
  def partitionSpec(spark: SparkSession, root: String,
      version: Int): Option[PartitionTransform] =
    tableMeta(spark, root, version).spec

  /** Declare (or change) the table's partition transform as a
    * METADATA-ONLY commit: the new version carries every data file by
    * reference and records the transform in its header. Old files
    * have no recorded range for the new transform's stats column, so
    * they are never skipped (stay readable, prune less); files written
    * from this version on are arranged along the transform and carry
    * per-file value ranges — the Iceberg partition-evolution
    * contract. Returns the new version. */
  def setPartitioning(spark: SparkSession, root: String,
      transform: PartitionTransform): Int =
    occCommit(spark, root, maxRetries = 0) { snap =>
      // a hash-layout table may ADOPT a transform (and vice versa): the
      // composed layout keeps files mono-bucket while splitting each
      // bucket along the transform value (Iceberg's multi-field spec)
      require(snap.schema.fieldNames.contains(transformColumn(transform)),
        s"partition column '${transformColumn(transform)}' is not in the " +
          "table schema")
      commitManifest(spark, root, snap.next, snap.entries, snap.eqdels,
        snap.cursor, snap.meta.copy(spec = Some(transform)))
      snap.next
    }

  private[sources] def transformColumn(t: PartitionTransform): String = t match {
    case DaysPartition(c) => c
    case MonthsPartition(c) => c
    case YearsPartition(c) => c
    case TruncatePartition(_, c) => c
    case BucketPartition(_, c) => c
  }

  /** Partition-pruned snapshot read: only files whose recorded
    * [min, max] of the ACTIVE transform's value intersects [lo, hi]
    * are opened; files predating the transform carry no range and are
    * always kept (pruning is a strict optimization). A residual filter
    * on the transform value completes the predicate, so the result
    * equals `read(...).filter(valueCol between lo and hi)` by
    * construction. For `days(ts)` this is the one-day/one-week event
    * read that at 100 TB must open one day's files, not the table. */
  def readPartitionRange(spark: SparkSession, root: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val spec = partitionSpec(spark, root, v).getOrElse(
      throw new IllegalStateException(
        s"table at $root has no partition transform at version $v"))
    val schema = tableSchema(spark, root, v)
    val keep = partitionSurvivors(spark, root, spec, lo, hi, v).toSet
    val entries = loadManifest(spark, root, v).filter(e => keep(e.relPath))
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
      .filter(spec.valueCol.between(lo, hi))
  }

  /** How many files a [[readPartitionRange]] with these bounds opens. */
  def prunedFileCountPartition(spark: SparkSession, root: String,
      lo: Long, hi: Long, version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    val spec = partitionSpec(spark, root, v).getOrElse(
      return loadManifest(spark, root, v).size)
    partitionSurvivors(spark, root, spec, lo, hi, v).size
  }

  private def partitionSurvivors(spark: SparkSession, root: String,
      spec: PartitionTransform, lo: Long, hi: Long, v: Int): Seq[String] = {
    val rels = loadManifest(spark, root, v).map(_.relPath)
    val stats = loadColStats(spark, root, v, rels.toSet)
    rels.filter { rel =>
      stats.get((rel, spec.statsCol)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // pre-transform file: no range, never skipped
      }
    }
  }

  /** The string column per-file bloom sidecars index, if declared at
    * create time (`_log/bloom.json`). */
  private def bloomColumn(spark: SparkSession, root: String): Option[String] = {
    val (f, _) = fs(root, spark)
    val p = new org.apache.hadoop.fs.Path(root, "_log/bloom.json")
    if (!f.exists(p)) None else Some(readFully(f, p).trim)
  }

  /** The HASH-BUCKET LAYOUT AS OF `version` (default: the head), from
    * its manifest's `#layout` header: the bucket count `n` of
    * `bucket(n, key) = pmod(xxhash64(key as long), n)`, declared at
    * [[create]] and changed only by a re-bucketing commit
    * ([[setHashBuckets]]) — so a time-travel read of an OLD snapshot
    * buckets/prunes with the count its files were actually written at
    * (never a mixed-layout view). Every data file of a hash-layout
    * table holds exactly one bucket's rows (mono-bucket files under
    * `data/vNNNNN-x/b<id>/`), which is what lets the DSv2 scan report
    * `KeyGroupedPartitioning` and two co-bucketed tables join with ZERO
    * shuffle on either side (Spark's storage-partitioned join, the
    * Iceberg `bucket` transform shape) — at 100 TB the difference
    * between a fact⋈fact join that moves both tables across the network
    * and one that moves nothing. The trade (documented, Iceberg's too):
    * per-file key intervals go wide, so RANGE scans lose file pruning;
    * EQUALITY lookups prune to the one bucket instead
    * ([[bucketOfKey]]). */
  def hashLayout(spark: SparkSession, root: String,
      version: Int = Int.MaxValue): Option[Int] = {
    val v =
      if (version == Int.MaxValue) latestVersion(spark, root) else version
    if (v < 0) None else tableMeta(spark, root, v).layout
  }

  /** The bucket id of key value `k` under an `n`-bucket hash layout —
    * the exact long the write side computes with
    * `pmod(xxhash64(key.cast("long")), n)`, evaluated driver-side for
    * file pruning (seed 42 is Spark's `xxhash64` default). */
  private[sources] def bucketOfKey(k: Long, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(k, org.apache.spark.sql.types.LongType, 42L)
    val m = (h % n).toInt
    if (m < 0) m + n else m
  }

  /** The bucket id a hash-layout data file holds, parsed from its
    * `data/vNNNNN-x/b<id>/part-*.parquet` path segment. None for files
    * outside the bucketed naming (never written by a hash-layout
    * table, but treated as "always keep / never partition-report" for
    * defense in depth). */
  private[graft] def fileBucket(relOrAbs: String): Option[Int] = {
    val i = relOrAbs.lastIndexOf('/')
    if (i <= 0) None
    else {
      val j = relOrAbs.lastIndexOf('/', i - 1)
      val seg = relOrAbs.substring(j + 1, i)
      if (seg.length > 1 && seg.charAt(0) == 'b' &&
          seg.drop(1).forall(_.isDigit)) Some(seg.drop(1).toInt)
      else None
    }
  }

  /** The table's declared key column (`_log/key.json`, recorded by
    * [[create]]) — what lets the SQL/DataSource surface file-skip on
    * key predicates without the caller naming the key. Absent on
    * tables created before the file existed: reads stay correct,
    * skipping just doesn't bite. Since round 16 the file may carry a
    * second tab-separated field `hash` marking a HASH-LEDGERED key
    * (see [[keyHashMode]]); the column name is always the first
    * field. */
  def keyColumn(spark: SparkSession, root: String): Option[String] = {
    val (f, _) = fs(root, spark)
    val p = new org.apache.hadoop.fs.Path(root, "_log/key.json")
    if (!f.exists(p)) None
    else Some(readFully(f, p).trim.split('\t')(0))
  }

  /** Whether the table's key is HASH-LEDGERED (`_log/key.json` second
    * field `hash`, recorded at [[create]] for STRING keys): the
    * manifest's per-file [minKey, maxKey] then holds `xxhash64(key)`
    * instead of the order-preserving long cast. Point/equality/IN
    * pruning keeps working (probe values hash driver-side and test
    * interval containment — files are RANGE-BUCKETED BY HASH at write
    * time, so intervals stay narrow and disjoint); RANGE predicates
    * over the key are meaningless and refuse ([[readRange]]). Every
    * ROW-LEVEL operation (merge joins, CDC deletes, eqdel masking)
    * compares the RAW key — hashes only ever decide which FILES to
    * open, so a collision can cost an extra file read, never a wrong
    * row. [[create]] marks every string key, so an unmarked key is
    * integral. */
  private[sources] def keyHashMode(spark: SparkSession,
      root: String): Boolean = {
    val (f, _) = fs(root, spark)
    val p = new org.apache.hadoop.fs.Path(root, "_log/key.json")
    f.exists(p) && {
      val fields = readFully(f, p).trim.split('\t')
      fields.length > 1 && fields(1) == "hash"
    }
  }

  /** The LEDGER (stat) value of a key expression: the order-preserving
    * long cast for integral keys, `xxhash64` for hash-ledgered string
    * keys — the single definition both the write-side stats pass and
    * every driver-side probe share, so pruning can never disagree with
    * the recorded intervals. */
  private def keyStatExpr(c: org.apache.spark.sql.Column,
      hashMode: Boolean): org.apache.spark.sql.Column =
    if (hashMode) xxhash64(c) else c.cast("long")

  /** Driver-side [[keyStatExpr]] for one probe value. */
  private[sources] def keyStatValue(v: Any): Long = v match {
    case s: String => xxhash64String(s)
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case u: org.apache.spark.unsafe.types.UTF8String =>
      xxhash64String(u.toString)
    case other => throw new IllegalArgumentException(
      s"unsupported key probe type: ${other.getClass.getName}")
  }

  /** Hadoop conf as a serializable property map, rebuilt inside tasks
    * — executor-side FileSystem access without reaching for Spark's
    * private SerializableConfiguration. */
  private def confMap(spark: SparkSession): Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  private def confFrom(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Spark SQL's `xxhash64` of a string, computed without a job — the
    * exact long `writeDataFiles` feeds the per-file bloom builder, so
    * driver-side probes and executor-side builds agree bit-for-bit. */
  private def xxhash64String(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** Bucket count for a rewrite-commit: unpartitioned tables cap at
    * (files rewritten + 1) so small upserts never fragment the layout;
    * PARTITIONED tables always use the full request — splitting along
    * the transform value is the point (a multi-day backfill must land
    * as day-aligned files, not one file spanning every day, or the
    * one-day read prunes nothing). */
  private def writeBuckets(snap: TableSnapshot,
      nBuckets: Int, nRewritten: Int): Int =
    if (snap.meta.spec.isDefined) math.max(1, nBuckets)
    else math.max(1, math.min(nBuckets, nRewritten + 1))

  private final case class Written(entries: Seq[FileEntry],
      statLines: Seq[String], kmvLines: Seq[String] = Seq.empty)

  /** Write `df`'s rows as the data files of `version`, range-bucketed
    * by `key` so per-file key intervals are narrow and disjoint, and
    * return their stats entries. One writer task per bucket; the
    * stats pass re-reads ONLY the newly written files (footer-local
    * column min/max — metadata-grade, not a table scan).
    *
    * `meta` is the definition the files are written under — the
    * caller's snapshot's, or the one the commit publishes (create, a
    * re-bucketing): its schema maps logical to physical column names,
    * its hash layout buckets the files, and under a declared
    * [[PartitionTransform]] files are arranged along (transform value,
    * key) — each file covers a narrow value range — and a per-file
    * [min, max] of the value is returned in `Written.statLines` (the
    * [[readPartitionRange]] skipping stats) for the caller to hand to
    * [[commitManifest]], which stages them token-named with the
    * publish. */
  private def writeDataFiles(spark: SparkSession, root: String, version: Int,
      meta: TableMeta, df: DataFrame, key: String, nBuckets: Int,
      zorderBy: Option[org.apache.spark.sql.Column] = None): Written = {
    // attempt-unique dir: a FAILED commit's orphan files can never
    // collide with (or be read by) the retry — they sit unreferenced
    // until vacuum sweeps them
    val rel = f"data/v$version%05d-" +
      java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$root/$rel"
    val spec = meta.spec
    // HASH LAYOUT: every write of the table's lifetime lands
    // mono-bucket files (one `b<id>/` dir per bucket under the
    // attempt-unique dir) so the scan's reported KeyGroupedPartitioning
    // is true of every snapshot — rewrites, MoR fresh files, and
    // compactions re-bucket identically
    val hashN = meta.layout
    // hash-ledgered (string) key: stats AND range-bucketing run over
    // xxhash64(key) — files then cover narrow, disjoint HASH intervals,
    // which is what keeps point/IN pruning sharp without key order
    val hashKey = keyHashMode(spark, root)
    require(zorderBy.isEmpty || hashN.isEmpty,
      "Z-ORDER and hash layout are mutually exclusive: both dictate " +
        "file placement (hash layout trades range locality for " +
        "shuffle-free storage-partitioned joins)")
    val arranged = (zorderBy, spec) match {
      // Z-ORDER layout: range-partition AND sort within files by the
      // interleaved curve value instead of the key — multi-column
      // locality for [[readRange2D]] skipping (key-range pruning
      // coarsens correspondingly; that trade IS the feature)
      case (Some(z), _) => df.withColumn("__zorder", z)
        .repartitionByRange(math.max(1, nBuckets), col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
      // COMPOSED partition transform ⊕ hash layout (round 17, the
      // Iceberg `[days(ts), bucket(n, key)]` spec): the bucket column
      // still drives the directory fan-out (every FILE stays
      // mono-bucket — the SPJ contract is untouched), while the
      // transform value co-drives the shuffle and leads the
      // within-bucket sort, so each bucket splits into files covering
      // NARROW transform ranges. A 100 TB fact gets zero-shuffle
      // key joins AND one-day's-files time pruning from one layout.
      case (None, Some(p)) if hashN.isDefined =>
        // RANGE-partition on (bucket, pval) so each writer task holds
        // CONTIGUOUS transform slices of one-or-few buckets — a hash
        // shuffle here would scatter days across files and void the
        // pruning axis. The range count runs ABOVE the bucket count
        // (×8, bounded by the write's own parallelism target) so every
        // bucket splits into transform-contiguous files with narrow
        // recorded pval ranges; empty ranges cost nothing.
        df.withColumn("__pval", p.valueCol)
          .withColumn("__bucket",
            pmod(xxhash64(
              if (hashKey) col(key) else col(key).cast("long")),
              lit(hashN.get)).cast("int"))
          .repartitionByRange(math.max(1, nBuckets) * 8,
            col("__bucket"), col("__pval"))
          .sortWithinPartitions(col("__bucket"), col("__pval"), col(key))
          .drop("__pval")
      // partitioned layout: transform value leads, key breaks ties —
      // files cover narrow value ranges (one day's read opens one
      // day's files) while staying key-ordered within a value
      case (None, Some(p)) => df.withColumn("__pval", p.valueCol)
        .repartitionByRange(math.max(1, nBuckets), col("__pval"), col(key))
        .sortWithinPartitions("__pval", key)
        .drop("__pval")
      case (None, None) => hashN match {
        // hash layout: the bucket column drives BOTH the shuffle (a
        // bucket never splits across writer tasks) and the directory
        // fan-out at write time; rows stay key-sorted within each
        // bucket file for row-group locality. NULL keys hash to the
        // seed (42) — deterministic placement; joins never match NULLs
        // so their bucket is irrelevant to the storage-partitioned
        // join.
        case Some(hn) => df
          .withColumn("__bucket",
            pmod(xxhash64(
              if (hashKey) col(key) else col(key).cast("long")),
              lit(hn)).cast("int"))
          .repartition(math.max(1, nBuckets), col("__bucket"))
          .sortWithinPartitions(col("__bucket"), col(key))
        case None if hashKey =>
          // range-bucket (and sort) by the HASH so per-file stat
          // intervals are narrow and disjoint — the point-pruning
          // contract, hash-domain edition
          df.withColumn("__kstat", xxhash64(col(key)))
            .repartitionByRange(math.max(1, nBuckets), col("__kstat"))
            .sortWithinPartitions("__kstat")
            .drop("__kstat")
        case None =>
          df.repartitionByRange(math.max(1, nBuckets), col(key))
      }
    }
    // COLUMN MAPPING: files store PHYSICAL names (frozen at column
    // birth), so writes rename logical → physical as the last step and
    // the stats read-back aliases them straight back — everything in
    // between (key bucketing, constraints, null ledger) sees logical
    // names. The mapping comes from `meta`'s schema (field metadata
    // survives nothing else — joins strip it from df.schema).
    val mapping = physMap(meta.schema)
    def physOf(c: String) = mapping.getOrElse(c, c)
    val logicalNames = df.schema.fieldNames.toSeq
    val needRename = logicalNames.exists(c => physOf(c) != c)
    // select (not toDF) so the hash layout's extra __bucket column
    // rides through the rename untouched
    val toWrite =
      if (needRename) arranged.select(arranged.schema.fieldNames.map(c =>
        col(c).as(physOf(c))): _*)
      else arranged
    val writer = toWrite.write.mode("errorifexists")
    (if (hashN.isDefined) writer.partitionBy("__bucket") else writer)
      .parquet(dir)
    if (hashN.isDefined) {
      // Hive-style `__bucket=K` dirs would make every multi-file read
      // sprout a phantom partition column (Spark appends discovered
      // partition columns even under a pinned schema) — rename to plain
      // `bK` segments, which partition discovery ignores. The dir is
      // attempt-unique: no concurrent writer ever touches it.
      val (f0, _) = fs(root, spark)
      val dP = new org.apache.hadoop.fs.Path(dir)
      f0.listStatus(dP).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("__bucket=")).foreach { s =>
        val id = s.getPath.getName.stripPrefix("__bucket=")
        require(id.forall(_.isDigit), s"unexpected bucket dir: ${s.getPath}")
        val bDir = new org.apache.hadoop.fs.Path(dP, s"b$id")
        require(f0.rename(s.getPath, bDir),
          s"bucket dir rename failed under $dir")
        // basenames must stay GLOBALLY unique: one writer task reuses
        // its task-file name in every bucket dir it fans out to, and
        // the DV/eqdel machinery is name-keyed (a DV for
        // b0/part-00000-x must never mask b3/part-00000-x) — prefix
        // the bucket id into the file name itself
        f0.listStatus(bDir).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet")).foreach { st =>
          require(f0.rename(st.getPath, new org.apache.hadoop.fs.Path(
            bDir, s"b$id-${st.getPath.getName}")),
            s"bucket file rename failed under $bDir")
        }
      }
    }
    val physSchemaOfDf = StructType(df.schema.fields.map(f =>
      f.copy(name = physOf(f.name))))
    /** The new data files, enumerated from the attempt-unique dir —
      * nested one level under `b<id>/` for hash layout, flat
      * otherwise. */
    def listWrittenFiles(): Seq[String] = {
      val (f0, _) = fs(root, spark)
      val it = f0.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString
      }
      b.result()
    }
    def readBack(): DataFrame = {
      val raw =
        if (hashN.isDefined) {
          // a dir-level read does not recurse into plain subdirs —
          // enumerate the bucket files explicitly (an empty write has
          // none: pinned-schema empty frame, same contract as the flat
          // read of a _SUCCESS-only dir)
          val files = listWrittenFiles()
          if (files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              physSchemaOfDf)
          else spark.read.schema(physSchemaOfDf).parquet(files: _*)
        } else spark.read.schema(physSchemaOfDf).parquet(dir)
      if (needRename) raw.toDF(logicalNames: _*) else raw
    }
    // stats per physical file (also covers AQE/empty-bucket merges);
    // schema-pinned read so an all-rows-deleted commit (zero data
    // files) yields an empty ledger instead of a schema-inference
    // error
    val written = readBack()
    // ONE footer-grade pass computes the manifest ledger (key interval,
    // rows) AND per-column null counts — the null counts land in the
    // colstats sidecar as `#nulls.<col>` lines and are what lets an
    // unfiltered `count(col)` answer from metadata (rows − nulls)
    // without opening a data file
    // declared CHECK constraints ride the SAME stats pass (no extra
    // scan): per-file violation counts aggregate next to min/max/nulls,
    // and ANY violation aborts BEFORE the manifest publish — the
    // staged files are unreferenced orphans for vacuum, the table's
    // head never moves (Delta's CHECK-constraint write contract)
    val constraintList = constraints(spark, root).toSeq.sortBy(_._1)
    val dataCols = df.schema.fieldNames.toSeq
    // integral columns additionally ledger their per-file SUM: long
    // addition is associative mod 2⁶⁴, so Σ(file sums) equals the data
    // scan's sum EXACTLY (wrap included) — what serves metadata
    // `sum(col)`. Floating sums are order-dependent and stay data-side.
    val intCols = df.schema.fields.filter(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
      f.dataType == org.apache.spark.sql.types.IntegerType ||
      f.dataType == org.apache.spark.sql.types.ShortType ||
      f.dataType == org.apache.spark.sql.types.ByteType)
      .map(_.name).toSeq
    // NDV (KMV) digests ride the SAME pass: the k smallest distinct
    // xxhash64 values per (file, column) — O(k) aggregation memory per
    // group whatever the file's cardinality (graft.functions.KmvBuffer,
    // never a collect_set), fixed-width hex so lexicographic order is
    // numeric order. These feed the CBO's distinct counts
    // ([[estimateDistinct]] → the DSv2 column-statistics surface).
    val kmvCols = df.schema.fields.filter(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }).map(_.name).toSeq
    // EVERY orderable leaf column ledgers its per-file [min, max] (the
    // Delta default, round 17): integral, date (epoch days), timestamp
    // (epoch micros) — a long-comparable value both the write pass and
    // the scan's predicate conversion compute identically. The key is
    // excluded (its interval IS the manifest line). A predicate on ANY
    // such column then file-skips at any table size instead of opening
    // every file; NULLs are skipped by min/max exactly like the SQL
    // aggregates (an all-NULL file writes no line → never skipped).
    val mmCols: Seq[(String, org.apache.spark.sql.Column)] =
      df.schema.fields.filter(_.name != key).flatMap { f =>
        f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType =>
            Some(f.name -> col(f.name).cast("long"))
          case org.apache.spark.sql.types.DateType =>
            Some(f.name -> unix_date(col(f.name)).cast("long"))
          case org.apache.spark.sql.types.TimestampType =>
            Some(f.name -> unix_micros(col(f.name)))
          case _ => None
        }
      }.toSeq
    val statRows = {
      // no emptiness pre-probe (it cost one extra job per write): the
      // grouped aggregate over a schema-pinned empty read-back simply
      // collects zero rows, which every consumer below handles
      val aggExprs = Seq(
        min(keyStatExpr(col(key), hashKey)).as("mn"),
        max(keyStatExpr(col(key), hashKey)).as("mx"),
        count(lit(1)).as("n")) ++
        dataCols.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        intCols.map(c => sum(col(c).cast("long")).as(s"__sum_$c")) ++
        constraintList.map { case (name, ex) =>
          val p = expr(ex)
          // false OR NULL counts as a violation, the SQL CHECK rule
          sum(when(p.isNull || !p, 1L).otherwise(0L)).as(s"__ck_$name")
        } ++
        kmvCols.map(c => graft.functions.Kmv.kmvDigests(
          when(col(c).isNotNull,
            lpad(hex(xxhash64(col(c))), 16, "0")), KmvK).as(s"__kmv_$c")) ++
        mmCols.flatMap { case (c, v) =>
          Seq(min(v).as(s"__mm_mn_$c"), max(v).as(s"__mm_mx_$c"))
        } ++
        // partition value ranges ride the SAME pass (they used to pay a
        // second full read-back of the new files)
        spec.toSeq.flatMap(p =>
          Seq(min(p.valueCol).as("__pv_mn"), max(p.valueCol).as("__pv_mx")))
      written.groupBy(input_file_name().as("file"))
        .agg(aggExprs.head, aggExprs.tail: _*)
        .collect()
    }
    constraintList.zipWithIndex.foreach { case ((name, ex), i) =>
      val idx = 4 + dataCols.size + intCols.size + i
      val bad = statRows.map(_.getLong(idx)).sum
      if (bad > 0) throw new ConstraintViolationException(
        s"CHECK constraint '$name' ($ex) violated by $bad row(s) — " +
          "commit aborted, table head unchanged (staged files are " +
          "unreferenced orphans; vacuum sweeps them)")
    }
    // rel path of a written file from its absolute URI — suffix-based
    // so the hash layout's `b<id>/` level rides into the manifest line
    // (every downstream path: dataPath resolution, DV sidecars, vacuum's
    // recursive sweep, addedVersion's dir-segment parse, handles nested
    // rels already)
    def relOf(uriStr: String): String = {
      val p = new java.net.URI(uriStr).getPath
      val i = p.indexOf(rel)
      require(i >= 0, s"written file $p is outside its staging dir $rel")
      p.substring(i)
    }
    val (entriesFs, _) = fs(root, spark)
    val entries = statRows
      .map { r =>
        val p = new org.apache.hadoop.fs.Path(
          new java.net.URI(r.getString(0)).getPath)
        // on-disk size into the manifest line: makes scan statistics
        // a metadata-only manifest pass (one getFileStatus per NEW
        // file, here at write time, never at read time)
        FileEntry(relOf(r.getString(0)), r.getLong(1), r.getLong(2),
          r.getLong(3), entriesFs.getFileStatus(p).getLen)
      }.toSeq.sortBy(_.relPath)
    val nullLines = statRows.flatMap { r =>
      val relP = relOf(r.getString(0))
      // ledger keys are PHYSICAL names — invariant across renames, so
      // a line written in any era serves every era's metadata reads
      val nulls = dataCols.zipWithIndex.map { case (c, i) =>
        val n = r.getLong(4 + i)
        s"$relP\t#nulls.${physOf(c)}\t$n\t$n"
      }
      // an all-NULL file's sum is SQL-NULL: write 0 — the nulls ledger
      // (nulls == rows) is what decides NULL-ness at serve time
      val sums = intCols.zipWithIndex.map { case (c, i) =>
        val idx = 4 + dataCols.size + i
        val v = if (r.isNullAt(idx)) 0L else r.getLong(idx)
        s"$relP\t#sum.${physOf(c)}\t$v\t$v"
      }
      nulls ++ sums
    }.toSeq
    bloomColumn(spark, root).filter(df.schema.fieldNames.contains) match {
      case Some(bc) if entries.nonEmpty =>
        writeBloomSidecars(spark, root, dir, bc, physSchemaOfDf,
          logicalNames, entries.map(_.nRows).max,
          files = if (hashN.isDefined) listWrittenFiles() else Seq.empty)
      case _ => ()
    }
    // partition value ranges into this version's colstats sidecar —
    // computed in the single stats pass above (the two trailing agg
    // columns), never a second read of the new files
    val pvBase = 4 + dataCols.size + intCols.size + constraintList.size +
      kmvCols.size + 2 * mmCols.size
    val pLines = spec match {
      case Some(p) =>
        statRows.flatMap { r =>
          val relP = relOf(r.getString(0))
          if (r.isNullAt(pvBase) || r.isNullAt(pvBase + 1)) None
          else Some(s"$relP\t${p.statsCol}\t${r.getLong(pvBase)}\t" +
            s"${r.getLong(pvBase + 1)}")
        }.toSeq
      case _ => Seq.empty[String]
    }
    val kmvLines = statRows.flatMap { r =>
      val relP = relOf(r.getString(0))
      kmvCols.zipWithIndex.map { case (c, j) =>
        val idx = 4 + dataCols.size + intCols.size + constraintList.size + j
        val ds = r.getSeq[String](idx)
        // an all-NULL file's digest list is empty: the line still
        // lands (0 distinct is information; a MISSING line means
        // unknown and makes the estimator refuse)
        s"$relP\t#kmv.${physOf(c)}\t${ds.mkString(",")}"
      }
    }.toSeq.sorted
    // per-file [min, max] of every ledgered leaf column → colstats
    // sidecar (same token-staged commit as the null/sum lines)
    val mmBase = 4 + dataCols.size + intCols.size + constraintList.size +
      kmvCols.size
    val mmLines = statRows.flatMap { r =>
      val relP = relOf(r.getString(0))
      mmCols.zipWithIndex.flatMap { case ((c, _), j) =>
        val i = mmBase + 2 * j
        if (r.isNullAt(i) || r.isNullAt(i + 1)) None // all-NULL file
        else Some(
          s"$relP\t#minmax.${physOf(c)}\t${r.getLong(i)}\t${r.getLong(i + 1)}")
      }
    }.toSeq
    val statLines = (pLines ++ nullLines ++ mmLines).sorted
    // sidecars are NOT staged here: the caller hands the lines to
    // [[commitManifest]], which stages them under its attempt-unique
    // token — data files are immutable, so stat lines are valid at ANY
    // version whose manifest references their files (what lets a
    // rebased commit re-pin the same lines at its new version number)
    Written(entries, statLines, kmvLines)
  }

  /** KMV sketch size: 128 minimum hashes per (file, column). Standard
    * error ≈ 1/√k ≈ 9% — join-sizing grade, and a column with < 128
    * distinct values is counted EXACTLY (the sketch IS its distinct
    * hash set). ~2 KB per column per file in the sidecar. */
  private[sources] val KmvK = 128

  private def kmvPath(root: String, v: Int, tok: String) =
    new org.apache.hadoop.fs.Path(root, f"_log/kmv-v$v%05d-$tok.tsv")

  /** Digest lines for `rels`, (rel, statKey) → ascending hex digests —
    * the [[loadColStats]] resolution rule over `kmv-v*.tsv` sidecars
    * (files are immutable, so a digest is valid wherever recorded). */
  private def loadKmvDigests(spark: SparkSession, root: String,
      version: Int, rels: Set[String]): Map[(String, String), Seq[String]] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) return Map.empty
    def parse(text: String): Seq[((String, String), Seq[String])] =
      text.linesIterator.filter(_.nonEmpty).flatMap { line =>
        line.split('\t') match {
          case Array("K", rel, c, ds) if rels(rel) => // checkpoint form
            Some((rel, c) -> ds.split(',').filter(_.nonEmpty).toSeq)
          case Array("K", rel, c) if rels(rel) =>
            Some((rel, c) -> Seq.empty[String])
          case Array(rel, c, ds) if rels(rel) =>
            Some((rel, c) -> ds.split(',').filter(_.nonEmpty).toSeq)
          case Array(rel, c) if rels(rel) => // all-NULL file: 0 distinct
            Some((rel, c) -> Seq.empty[String])
          case _ => None
        }
      }.toSeq
    // the newest checkpoint first: digests of files whose sidecars
    // vacuum already swept live on inside it (the colstats rule)
    val names = f.listStatus(log).map(_.getPath.getName)
    val fromCp = names
      .collect { case s if s.matches("checkpoint-v\\d{5}\\.tsv") =>
        s.substring(12, 17).toInt }
      .sorted.lastOption.map(cpV =>
        parse(readFully(f, checkpointPath(root, cpV))))
      .getOrElse(Seq.empty)
    // every sidecar at or below `version` is read regardless of token:
    // digest lines are facts about IMMUTABLE files, filtered by `rels`
    // (the target manifest's live set) — a race loser's leftover either
    // describes files that never committed (filtered out) or restates
    // facts the winner's own lines carry
    val vs = sidecarVersions(names.toSeq, "kmv", "tsv").filter(_._1 <= version)
    (fromCp ++ vs.flatMap { case (v, tok) =>
      parse(readFully(f, kmvPath(root, v, tok))) }).toMap
  }

  /** APPROXIMATE DISTINCT COUNT of `column` over `version`'s live
    * files (optionally restricted to a key range) — a pure METADATA
    * pass: per-file KMV digests union into one k-minimum sketch
    * (truncated-sketch union is itself a valid KMV of the union), so
    * the estimate costs one `_log` listing however large the table.
    * Exact when the union holds fewer than k distinct hashes.
    *
    * Returns None — no estimate, never a wrong one — when any covered
    * file lacks a digest line (pre-round-14 history, vacuumed
    * sidecars, shallow clones). This per-FILE refusal is the CBO
    * analogue of the metadata-aggregate refuse rule.
    *
    * Files carrying a DELETION VECTOR keep serving their digest: a
    * digest describes the file's PHYSICAL content, of which the live
    * subset is a ⊆, so the union estimate is a valid UPPER BOUND on
    * the live NDV. Overestimating NDV is the safe bias for both uses
    * of this number — a broadcast decision sized on it only gets MORE
    * conservative, and an aggregate-cardinality estimate only grows —
    * so one narrow MERGE under the default merge-on-read DML policy no
    * longer blacks out the table's statistics until an OPTIMIZE
    * absorbs the DVs (it merely widens them upward by at most the
    * deleted rows' share of distinct values). */
  def estimateDistinct(spark: SparkSession, root: String, version: Int,
      column: String, keyRange: Option[(Long, Long)] = None): Option[Long] = {
    val all = loadManifest(spark, root, version)
    val entries = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    if (entries.isEmpty) return Some(0L)
    val phys = physMap(tableSchema(spark, root, version))
      .getOrElse(column, column)
    val digests = loadKmvDigests(spark, root, version,
      entries.map(_.relPath).toSet)
    val merged = new java.util.TreeSet[String]()
    entries.foreach { e =>
      digests.get((e.relPath, s"#kmv.$phys")) match {
        case None => return None // uncovered file: refuse, don't lie
        case Some(ds) => ds.foreach { d =>
          merged.add(d)
          if (merged.size > KmvK) { merged.pollLast(); () }
        }
      }
    }
    if (merged.size < KmvK) Some(merged.size.toLong)
    else {
      // (k−1)/frac(h_k), frac from the k-th digest's first 48 bits —
      // the Kmv.kmvEstimate formula, driver-side
      val frac = java.lang.Long.parseLong(merged.last.take(12), 16)
        .toDouble / math.pow(2.0, 48)
      Some(math.max(KmvK.toLong, math.round((KmvK - 1).toDouble / frac)))
    }
  }

  /** Write one `<dataFile>.bloom` sidecar per data file in `dir`: a
    * serialized bloom filter over `xxhash64(bloomCol)`, sized to ~1%
    * false positives for the LARGEST file of this write. Built with one
    * per-file aggregation and written FROM THE EXECUTORS (`foreach` —
    * bloom bits are data-sized in aggregate and never cross the
    * driver); sidecars live in the same attempt-unique dir as the data
    * files, so the create-if-absent manifest publish covers them and a
    * failed commit's sidecars are vacuum-swept with their data files. */
  private def writeBloomSidecars(spark: SparkSession, root: String,
      dir: String, bloomCol: String, physSchema: StructType,
      logicalNames: Seq[String], maxRowsPerFile: Long,
      files: Seq[String] = Seq.empty): Unit = {
    val nBits = math.max(1024L, 10L * maxRowsPerFile)
    val hconf = confMap(spark)
    // hash-layout writes enumerate their nested bucket files (a
    // dir-level read does not recurse into plain subdirs)
    val raw =
      if (files.nonEmpty) spark.read.schema(physSchema).parquet(files: _*)
      else spark.read.schema(physSchema).parquet(dir)
    raw.toDF(logicalNames: _*)
      .groupBy(input_file_name().as("file"))
      .agg(graft.functions.Bloom.filterAgg(
        xxhash64(col(bloomCol).cast("string")),
        estimatedItems = math.max(1L, maxRowsPerFile),
        numBits = nBits).as("bloom"))
      .foreach { r =>
        // an all-NULL bloom column in a file yields a NULL blob: write
        // no sidecar — the probe keeps sidecar-less files (never skips)
        val blob = r.getAs[Array[Byte]]("bloom")
        if (blob != null) {
          val dataPath = new org.apache.hadoop.fs.Path(
            new java.net.URI(r.getString(0)).getPath)
          val dest = new org.apache.hadoop.fs.Path(
            dataPath.getParent, dataPath.getName + ".bloom")
          val f = dest.getFileSystem(confFrom(hconf))
          val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
            s".tmp-${dest.getName}-${java.util.UUID.randomUUID()}")
          val os = f.create(tmp, false)
          try os.write(blob) finally os.close()
          // create-if-absent: a speculative twin's rename loses quietly
          if (!f.rename(tmp, dest)) f.delete(tmp, false): Unit
        }
      }
  }

  /** Create the table at `root` as version 0. `bloomCol` (optional)
    * declares a string column to index with per-file bloom sidecars on
    * every subsequent write — the point-lookup skipping column for
    * [[readPoint]], orthogonal to the key's min/max range stats. */
  def create(spark: SparkSession, root: String, df: DataFrame, key: String,
      nBuckets: Int = 8, bloomCol: Option[String] = None,
      partitioning: Option[PartitionTransform] = None,
      hashLayout: Boolean = false): Unit =
    createWithCursor(spark, root, df, key, nBuckets, bloomCol, partitioning,
      hashLayout, None)

  /** [[create]] publishing version 0 with a `#cursor` header (the MV
    * create: the backing table's rows and the refresh cursor they
    * reflect land in one manifest). */
  private[sources] def createWithCursor(spark: SparkSession, root: String,
      df: DataFrame, key: String, nBuckets: Int, bloomCol: Option[String],
      partitioning: Option[PartitionTransform], hashLayout: Boolean,
      cursor: Option[String]): Unit = {
    val (f, rootP) = fs(root, spark)
    require(!f.exists(new org.apache.hadoop.fs.Path(root, "_log")),
      s"table already exists at $root")
    if (hashLayout) {
      // the layout is a physical contract every subsequent write obeys
      // and the scan's reported partitioning relies on (changing n is a
      // full rewrite: [[setHashBuckets]])
      val kt = df.schema.fields.find(_.name == key).map(_.dataType)
      require(kt.exists {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      }, s"hash layout needs an integral or string key column (got " +
        s"$key: ${kt.map(_.simpleString).getOrElse("missing")}) — the " +
        "bucket function hashes the key on both the write and the " +
        "join side")
      require(nBuckets >= 1, s"hash layout needs >= 1 bucket, got $nBuckets")
    }
    f.mkdirs(new org.apache.hadoop.fs.Path(rootP, "_log"))
    // STRING keys ledger as xxhash64 (the `hash` marker — see
    // [[keyHashMode]]); real CDC streams key on UUIDs and natural
    // identifiers, and hashing folds them into the long-based
    // stats/bucket machinery unchanged
    val stringKey = df.schema.fields.find(_.name == key)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    writeAtomic(f, new org.apache.hadoop.fs.Path(root, "_log/key.json"),
      if (stringKey) s"$key\thash" else key)
    bloomCol.foreach { bc =>
      require(df.schema.fieldNames.contains(bc), s"no such column: $bc")
      writeAtomic(f, new org.apache.hadoop.fs.Path(root, "_log/bloom.json"), bc)
    }
    partitioning.foreach { t =>
      require(df.schema.fieldNames.contains(transformColumn(t)),
        s"partition column '${transformColumn(t)}' is not in the schema")
    }
    // v0's definition: the files are written under it and its manifest
    // header publishes it
    val meta = TableMeta(df.schema, partitioning,
      if (hashLayout) Some(nBuckets) else None)
    val w = writeDataFiles(spark, root, 0, meta, df, key, nBuckets)
    commitManifest(spark, root, 0, w.entries, Seq.empty, cursor, meta,
      statLines = w.statLines, kmvLines = w.kmvLines)
  }

  /** SHALLOW CLONE (Delta's zero-copy fork): create `dstRoot` as a new
    * table whose v0 manifest references `srcRoot`'s data files BY
    * ABSOLUTE PATH — no data I/O at any table size, instant. The clone
    * carries the source snapshot's schema (column mapping included),
    * key, bloom declaration, active partition transform, CHECK
    * constraints, physical-name tombstones, and the colstats ledger
    * for every referenced file (re-keyed to the absolute references),
    * so pruning/metadata aggregates work on the clone from commit 0.
    * Writes to either table NEVER affect the other (files are
    * immutable copy-on-write; the clone's rewrites land under its own
    * root and progressively localize it). CAVEAT (Delta documents the
    * same): VACUUMing the SOURCE can delete files the clone still
    * references — pin the cloned version with a [[tag]] on the source,
    * or OPTIMIZE the clone to localize it, before source retention
    * passes the cloned snapshot. */
  def cloneTable(spark: SparkSession, srcRoot0: String, dstRoot: String,
      version: Option[Int] = None): Unit = {
    // QUALIFY the source root before building absolute references: a
    // relative srcRoot (no leading '/' or scheme) would otherwise
    // produce v0 manifest lines [[dataPath]] resolves under the
    // CLONE's root — reads failing or silently hitting wrong files.
    // For the file scheme the plain absolute path is kept (it already
    // satisfies dataPath's absolute test and stays byte-stable across
    // Path render variants); other schemes keep the full URI form.
    val srcRoot = {
      val (sf0, sp0) = fs(srcRoot0, spark)
      val q = sf0.makeQualified(sp0)
      if (Option(q.toUri.getScheme).contains("file")) q.toUri.getPath
      else q.toString
    }
    val (f, _) = fs(dstRoot, spark)
    require(!f.exists(new org.apache.hadoop.fs.Path(dstRoot, "_log")),
      s"table already exists at $dstRoot")
    val v = version.getOrElse(latestVersion(spark, srcRoot))
    require(v >= 0, s"no graft table at $srcRoot")
    // a shallow clone re-renders the manifest WITHOUT headers — a
    // pending eqdel key set would silently drop and un-delete keys
    // in the clone; resolve first
    require(!hasLiveEqDels(spark, srcRoot, v),
      s"cannot clone $srcRoot at version $v: pending equality " +
        "deletes — run resolveEqDels first")
    val entries = loadManifest(spark, srcRoot, v)
    f.mkdirs(new org.apache.hadoop.fs.Path(dstRoot, "_log"))
    // raw file copy, not keyColumn(): the hash-ledger marker (second
    // tab field) must survive the clone or its probes would misread
    // the inherited hash stats as plain key values
    locally {
      val (sf0, _) = fs(srcRoot, spark)
      val kp = new org.apache.hadoop.fs.Path(srcRoot, "_log/key.json")
      if (sf0.exists(kp)) writeAtomic(f,
        new org.apache.hadoop.fs.Path(dstRoot, "_log/key.json"),
        readFully(sf0, kp).trim)
    }
    bloomColumn(spark, srcRoot).foreach(b => writeAtomic(f,
      new org.apache.hadoop.fs.Path(dstRoot, "_log/bloom.json"), b))
    constraints(spark, srcRoot).foreach { case (name, ex) =>
      writeAtomic(f, new org.apache.hadoop.fs.Path(dstRoot,
        s"_log/check-$name.json"), ex) }
    val (sf, _) = fs(srcRoot, spark)
    // the source's tombstones as ONE write-once file, the form a DROP
    // COLUMN writes (see [[droppedPhysicals]])
    val dropped = droppedPhysicals(sf, srcRoot)
    if (dropped.nonEmpty) writeAtomic(f, new org.apache.hadoop.fs.Path(
      dstRoot, s"_log/dropped-${newToken()}.json"),
      dropped.toSeq.sorted.mkString("", "\n", "\n"))
    // re-key the referenced files' stats ledger onto the absolute refs
    val rels = entries.map(_.relPath).toSet
    val statLines = loadColStats(spark, srcRoot, v, rels).toSeq
      .map { case ((rel, c), (mn, mx)) =>
        s"${dataPath(srcRoot, rel)}\t$c\t$mn\t$mx" }.sorted
    val cloned = entries.map(e => e.copy(
      relPath = dataPath(srcRoot, e.relPath),
      dvPath = if (e.hasDv) dataPath(srcRoot, e.dvPath) else ""))
    // the source version's whole definition carries: the hash layout
    // too — the clone's absolute-ref files are already mono-bucket
    // (immutable), and the clone's own rewrites must keep bucketing or
    // its reported partitioning would lie
    commitManifest(spark, dstRoot, 0, cloned, Seq.empty, None,
      tableMeta(spark, srcRoot, v), statLines = statLines)
  }

  /** Snapshot read at `version` (default: latest). */
  def read(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val entries = loadManifest(spark, root, v)
    val schema = tableSchema(spark, root, v)
    // pin the schema so a snapshot's column set never depends on
    // which subset of files survived the commits; DV'd files read
    // masked (merge-on-read); pending equality deletes anti-join
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
  }

  /** Snapshot statistics from the MANIFEST alone: (rowCount,
    * sizeInBytes) at `version`, optionally post-pruning by a key
    * range (same file-intersection rule as [[readRange]] — so a
    * `VERSION AS OF` read with a range predicate reports the PRUNED
    * size, which is what lets Catalyst choose a broadcast join for a
    * selective read of a huge table). Bytes come from the manifest's
    * per-file sizes — zero filesystem RPCs. */
  def snapshotStats(spark: SparkSession, root: String, version: Int,
      keyRange: Option[(Long, Long)] = None): (Long, Long) = {
    val all = loadManifest(spark, root, version)
    val entries = keyRange match {
      case Some((lo, hi)) =>
        all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    val bytes = entries.map(_.nBytes).sum
    // LIVE rows (physical − DV'd): what the scan will actually emit.
    // Bytes stay the physical file sizes — an over-estimate on DV'd
    // files that errs AGAINST broadcasting, the safe direction.
    (entries.map(_.liveRows).sum, bytes)
  }

  /** The pruned snapshot's data files as ready-made `FileStatus`es —
    * path and EXACT on-disk length straight from the manifest ledger,
    * so building a scan costs zero filesystem metadata RPCs (the 100 TB
    * concern: a listing of 100k files on an object store is seconds of
    * planning; the manifest already recorded every length at commit
    * time). Same file-intersection rule as [[readRange]]. Block size
    * is nominal — split planning uses `maxPartitionBytes`. */
  private[sources] def snapshotFileStatuses(spark: SparkSession, root: String,
      version: Int, keyRange: Option[(Long, Long)] = None)
    : Seq[org.apache.hadoop.fs.FileStatus] = {
    val all = loadManifest(spark, root, version)
    val entries = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    val (f, _) = fs(root, spark)
    entries.map { e =>
      val p = f.makeQualified(new org.apache.hadoop.fs.Path(dataPath(root, e.relPath)))
      new org.apache.hadoop.fs.FileStatus(e.nBytes, false, 1,
        128L * 1024 * 1024, 0L, p)
    }
  }

  /** [[snapshotFileStatuses]] plus each file's DELETION-VECTOR
    * reference — (status, absolute dvPath or "", dvRows) — what the
    * DSv2 scan needs to split the snapshot into the clean fast path
    * and the masked merge-on-read path. */
  /** Live rows and bytes of branch `name`'s head snapshot — the
    * planner sizing for a branch-ref SQL scan. */
  private[sources] def branchStats(spark: SparkSession, root: String,
      name: String): (Long, Long) = {
    val es = branchEntries(spark, root, name,
      branchHeadVersion(spark, root, name))
    (es.map(_.liveRows).sum, math.max(1L, es.map(_.nBytes).sum))
  }

  private[sources] def snapshotFilesWithDvs(spark: SparkSession,
      root: String, version: Int, keyRange: Option[(Long, Long)] = None,
      keyValues: Option[Array[Long]] = None,
      pvalValues: Option[Array[Long]] = None,
      branch: Option[String] = None,
      // SECONDARY-COLUMN skipping (round 17): logical column →
      // inclusive [lo, hi] interval mined from the pushed predicates,
      // tested against the per-file `#minmax.<col>` ledger; plus
      // IS NULL / IS NOT NULL pruning via the `#nulls.<col>` ledger.
      // Files without a recorded line are always kept (pre-ledger
      // survivors prune less, never wrongly).
      colRanges: Map[String, (Long, Long)] = Map.empty,
      isNullCols: Set[String] = Set.empty,
      isNotNullCols: Set[String] = Set.empty)
    : Seq[(org.apache.hadoop.fs.FileStatus, String, Long)] = {
    // a branch-ref scan reads the BRANCH head's file set; `version`
    // stays the branch base (the schema/partition-spec era)
    val all = branch match {
      case Some(b) => branchEntries(spark, root, b,
        branchHeadVersion(spark, root, b))
      case None => loadManifest(spark, root, version)
    }
    val ranged = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    // HASH-LAYOUT BUCKET PRUNING: under hash layout per-file key
    // intervals are domain-wide (the documented range-pruning trade),
    // but an EQUALITY lookup or a runtime key set maps to exact bucket
    // ids — a `k = x` point read opens 1/n of the table's files, and a
    // DPP join prunes to the build side's buckets. Files outside the
    // bucketed naming are always kept (defense in depth).
    val bucketed = hashLayout(spark, root, version) match {
      case Some(n) =>
        // hash-ledgered keys: the stat value IS xxhash64(key), and the
        // write-side bucket is pmod(xxhash64(key), n) — so the bucket
        // of a probe is pmod of its stat directly (integral keys hash
        // the key value itself, the original rule)
        val bucketOfStat: Long => Int =
          if (keyHashMode(spark, root)) s => java.lang.Math.floorMod(s, n.toLong).toInt
          else bucketOfKey(_, n)
        val wanted: Option[Set[Int]] = keyValues match {
          case Some(vs) if vs.nonEmpty =>
            Some(vs.map(bucketOfStat).toSet)
          case _ => keyRange match {
            case Some((lo, hi)) if lo == hi => Some(Set(bucketOfStat(lo)))
            case _ => None
          }
        }
        wanted match {
          case Some(bs) => ranged.filter(e =>
            fileBucket(e.relPath).forall(bs.contains))
          case None => ranged
        }
      case None => ranged
    }
    // RUNTIME key-value pruning (sorted values; a file survives iff
    // some value lands inside its [minKey, maxKey] interval) — the
    // join-time file-skipping the DSv2 runtime-filter surface feeds
    val keyed = keyValues match {
      case Some(vs) if vs.nonEmpty => bucketed.filter { e =>
        var i = java.util.Arrays.binarySearch(vs, e.minKey)
        if (i < 0) i = -i - 1
        i < vs.length && vs(i) <= e.maxKey
      }
      case _ => bucketed
    }
    // RUNTIME partition-transform pruning (the second DPP axis): the
    // sorted TRANSFORM VALUES of the observed join keys, tested
    // against each file's recorded [min, max] of the active
    // transform's value in the colstats sidecar — a join on a time
    // dimension opens one day's files of a 100 TB fact. Files with no
    // recorded range (written before the transform) are always kept.
    val pvaled = pvalValues match {
      case Some(vs) if vs.nonEmpty =>
        partitionSpec(spark, root, version) match {
          case Some(t) =>
            val stats = loadColStats(spark, root, version,
              keyed.map(_.relPath).toSet)
            keyed.filter { e =>
              stats.get((e.relPath, t.statsCol)) match {
                case Some((mn, mx)) =>
                  var i = java.util.Arrays.binarySearch(vs, mn)
                  if (i < 0) i = -i - 1
                  i < vs.length && vs(i) <= mx
                case None => true // no recorded range: never skip
              }
            }
          case None => keyed
        }
      case _ => keyed
    }
    // STATIC secondary-column skipping against the leaf-column ledger:
    // a file survives only if, for EVERY mined interval, its recorded
    // [min, max] intersects it (NULL rows can't match a comparison
    // predicate, so min/max over non-null values decides soundly) —
    // and, for IS NULL / IS NOT NULL conjuncts, its null ledger admits
    // a matching row. DV'd files' stats are physical SUPERSETS of live
    // content: an empty physical intersection implies an empty live
    // one, so pruning stays sound under merge-on-read.
    val entries =
      if (colRanges.isEmpty && isNullCols.isEmpty && isNotNullCols.isEmpty)
        pvaled
      else {
        val stats = loadColStats(spark, root, version,
          pvaled.map(_.relPath).toSet)
        def phys(c: String) = toPhys(spark, root, version, c)
        val rangesPhys = colRanges.map { case (c, r) => phys(c) -> r }
        val nullPhys = isNullCols.map(phys)
        val notNullPhys = isNotNullCols.map(phys)
        pvaled.filter { e =>
          rangesPhys.forall { case (c, (lo, hi)) =>
            stats.get((e.relPath, s"#minmax.$c")) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None => true // no recorded range: never skip
            }
          } &&
          nullPhys.forall(c =>
            stats.get((e.relPath, s"#nulls.$c")) match {
              case Some((n, _)) => n > 0 // zero nulls: IS NULL matches none
              case None => true
            }) &&
          notNullPhys.forall(c =>
            stats.get((e.relPath, s"#nulls.$c")) match {
              case Some((n, _)) => n < e.nRows // all-NULL file: none match
              case None => true
            })
        }
      }
    val (f, _) = fs(root, spark)
    entries.map { e =>
      val p = f.makeQualified(
        new org.apache.hadoop.fs.Path(dataPath(root, e.relPath)))
      val st = new org.apache.hadoop.fs.FileStatus(e.nBytes, false, 1,
        128L * 1024 * 1024, 0L, p)
      (st, if (e.hasDv) dataPath(root, e.dvPath) else "", e.dvRows)
    }
  }

  /** Snapshot aggregate stats from the MANIFEST alone: exact
    * (rowCount, Option((minKey, maxKey))) at `version`. The per-file
    * [minKey, maxKey] is recorded from the DATA at write time (see
    * [[writeDataFiles]]'s footer-grade stats pass), and data files
    * are immutable copy-on-write, so min-of-mins / max-of-maxes over
    * the live file set IS the table's exact key min/max — what lets
    * `SELECT count(*), min(k), max(k)` answer without opening a
    * single data file. None when the snapshot is empty (SQL min/max
    * of an empty table is NULL) — and also when any live file carries
    * a DELETION VECTOR: a DV may have masked the extreme row, making
    * the recorded interval a superset bound (sound for pruning, NOT
    * exact) — the metadata-or-nothing contract refuses, callers fall
    * back to the scan. Row count stays exact under DVs
    * (`nRows − dvRows` per file). */
  def snapshotKeyStats(spark: SparkSession, root: String,
      version: Int): (Long, Option[(Long, Long)]) = {
    // NOTE: rows is exact only absent pending equality deletes —
    // callers serving count(*) must check [[hasLiveEqDels]] first
    // (the SQL pushAggregation guard does)
    val entries = loadManifest(spark, root, version)
    val rows = entries.map(_.liveRows).sum
    val range =
      if (entries.isEmpty || entries.exists(_.hasDv) ||
          // hash-ledgered key: the recorded interval is over
          // xxhash64(key) — sound for pruning, NEVER a key min/max
          keyHashMode(spark, root)) None
      else Some((entries.map(_.minKey).min, entries.map(_.maxKey).max))
    (rows, range)
  }

  /** Exact snapshot [min, max] of a SECONDARY column from colstats
    * alone: Some iff EVERY live file at `version` carries a recorded
    * range for `column` (Z-order or partition-transform stats — both
    * land in the versioned colstats sidecars). A single uncovered
    * file makes the metadata answer unsound, so it refuses (None)
    * rather than approximate — the caller falls back to a data scan.
    * Files whose recorded range came from `min`/`max` over the data
    * ignore NULLs exactly like the SQL aggregates they serve; an
    * all-NULL file writes no stats line and therefore refuses here
    * (conservative: such a file contributes nothing to min/max, but
    * absence of a line is indistinguishable from never-collected). */
  def snapshotColumnRange(spark: SparkSession, root: String, version: Int,
      column: String): Option[(Long, Long)] = {
    val entries = loadManifest(spark, root, version)
    // a DV'd file's recorded range is a SUPERSET bound (the extreme
    // row may be deleted) — refuse rather than approximate; pending
    // equality deletes mask rows the same way
    if (entries.isEmpty || entries.exists(_.hasDv) ||
        hasLiveEqDels(spark, root, version)) return None
    val rels = entries.map(_.relPath).toSet
    val stats = loadColStats(spark, root, version, rels)
    val phys = toPhys(spark, root, version, column)
    // two ledgers serve: the Z-order/transform lines keyed by the raw
    // column name, and (round 17) the universal per-leaf-column
    // `#minmax` lines every write records. For the LEAF ledger an
    // all-NULL file writes no line — min/max ignore NULLs, so such a
    // file contributes nothing and a missing line is only refusal-
    // worthy when the file has NON-NULL rows (decided by the nulls
    // ledger; unknown nulls refuse conservatively).
    val per = entries.map(e => stats.get((e.relPath, phys)).orElse {
      stats.get((e.relPath, s"#minmax.$phys")) match {
        case some @ Some(_) => some
        case None => stats.get((e.relPath, s"#nulls.$phys")) match {
          case Some((n, _)) if n == e.nRows => Some((Long.MaxValue,
            Long.MinValue)) // all-NULL file: neutral element
          case _ => None
        }
      }
    })
    if (per.exists(_.isEmpty)) None
    else {
      val lo = per.flatten.map(_._1).min
      val hi = per.flatten.map(_._2).max
      if (lo > hi) None // every file all-NULL: SQL min/max is NULL —
        // refuse (the caller's scan fallback returns the exact NULL)
      else Some((lo, hi))
    }
  }

  /** The pruned snapshot's file ledger for the `$files` metadata table:
    * (relPath, minKey, maxKey, rows, bytes) straight from the manifest. */
  private[graft] def snapshotFileLedger(spark: SparkSession, root: String,
      version: Int): Seq[(String, Long, Long, Long, Long)] =
    loadManifest(spark, root, version).map(e =>
      (e.relPath, e.minKey, e.maxKey, e.nRows, e.nBytes))

  /** Exact snapshot NULL count of `column` from colstats alone: Some
    * iff EVERY live file at `version` carries a recorded `#nulls.<col>`
    * line (written by every post-null-ledger commit's single stats
    * pass). Data files are immutable, so summing the per-file counts
    * is exact — what serves `count(col)` (= rows − nulls) as a pure
    * metadata answer. A single uncovered file (a pre-ledger commit's
    * survivor) refuses (None): the caller falls back to the data
    * scan — metadata answers are exact or not given. */
  def snapshotNullCount(spark: SparkSession, root: String, version: Int,
      column: String, keyRange: Option[(Long, Long)] = None): Option[Long] = {
    val all = loadManifest(spark, root, version)
    val entries = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    if (entries.isEmpty) return Some(0L)
    // per-file null ledgers describe PHYSICAL content; a DV (or a
    // pending equality delete) may have masked null or non-null rows
    // — refuse, callers scan
    if (entries.exists(_.hasDv) ||
        hasLiveEqDels(spark, root, version)) return None
    val rels = entries.map(_.relPath).toSet
    val stats = loadColStats(spark, root, version, rels)
    val phys = toPhys(spark, root, version, column)
    val per = entries.map(e => stats.get((e.relPath, s"#nulls.$phys")))
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.map(_._1).sum)
  }

  /** ADVISORY null count for the CBO surface: like
    * [[snapshotNullCount]] but a DV'd file serves its PHYSICAL null
    * count — an UPPER BOUND on its live nulls (a DV can only mask
    * rows). The exact metadata-aggregate path keeps the strict form
    * (its answers must be exact or not given); the optimizer only
    * needs a sound estimate, and refusing would black out the whole
    * NDV→CBO capability the moment the default merge-on-read DML
    * policy lands one deletion vector. */
  def estimateNullCount(spark: SparkSession, root: String, version: Int,
      column: String, keyRange: Option[(Long, Long)] = None): Option[Long] = {
    val all = loadManifest(spark, root, version)
    val entries = keyRange match {
      case Some((lo, hi)) => all.filter(e => e.maxKey >= lo && e.minKey <= hi)
      case None => all
    }
    if (entries.isEmpty) return Some(0L)
    val rels = entries.map(_.relPath).toSet
    val stats = loadColStats(spark, root, version, rels)
    val phys = toPhys(spark, root, version, column)
    val per = entries.map(e => stats.get((e.relPath, s"#nulls.$phys")))
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.map(_._1).sum)
  }

  /** Exact snapshot SUM of an integral `column` from colstats alone:
    * outer None = not servable (a live file lacks the `#sum`/`#nulls`
    * ledger); Some(None) = SQL NULL (zero non-null values); long
    * addition is associative mod 2⁶⁴, so the file-sum total equals the
    * data scan's sum exactly, wrap included. */
  def snapshotColumnSum(spark: SparkSession, root: String, version: Int,
      column: String): Option[Option[Long]] = {
    val entries = loadManifest(spark, root, version)
    if (entries.isEmpty) return Some(None)
    // the #sum ledger sums PHYSICAL rows — a DV'd (or eqdel-masked)
    // file's live sum differs; refuse (metadata answers are exact or
    // not given)
    if (entries.exists(_.hasDv) ||
        hasLiveEqDels(spark, root, version)) return None
    val rels = entries.map(_.relPath).toSet
    val stats = loadColStats(spark, root, version, rels)
    val phys = toPhys(spark, root, version, column)
    val sums = entries.map(e => stats.get((e.relPath, s"#sum.$phys")))
    val nulls = entries.map(e => stats.get((e.relPath, s"#nulls.$phys")))
    if (sums.exists(_.isEmpty) || nulls.exists(_.isEmpty)) None
    else {
      val nonNull = entries.map(_.nRows).sum - nulls.flatten.map(_._1).sum
      if (nonNull == 0L) Some(None)
      else Some(Some(sums.flatten.map(_._1).sum))
    }
  }

  // ---- COMMIT CORE (every write verb on a live table) -------------
  //
  // Every verb that publishes a new version of an existing table is a
  // small plan over two pieces: a [[TableSnapshot]] resolved once per
  // commit attempt, and ONE optimistic-concurrency loop ([[occCommit]])
  // — the Delta `Snapshot` / `OptimisticTransaction` split:
  //   - [[batchCommit]] (schema alignment + batch-cache ownership):
  //     upsert, auditedUpsert, insertBatch, appendUpsert,
  //     applyCdcBatch;
  //   - [[rewriteCommit]] (re-encode inputs once, rebase over a
  //     disjoint race): optimize, absorbDvs, optimizeZOrder;
  //   - a retrying body over one snapshot: mergeBranch, and the MV
  //     refresh ([[GraftMv.refresh]], a CDC apply that advances the
  //     MV table's `#cursor`);
  //   - single attempt: upsertOnce, resolveEqDels, the delete verbs,
  //     setPartitioning, setHashBuckets, restore, evolveAddColumns,
  //     renameColumn, dropColumn — a retry of the layout and schema
  //     verbs would carry files written under another era.
  // Every keyed write is ONE plan, [[keyedMerge]] (Delta's single
  // MERGE): upsert, auditedUpsert, upsertOnce, insertBatch and
  // upsertBranch merge with no op column, the CDC apply (applyCdcBatch,
  // the MV refresh, mergeBranch, SQL MERGE) with one. upsert always
  // copies on write; insertBatch, the CDC apply and deleteWhereAuto
  // read `graft.dml.mode` from the snapshot. The merge returns what to
  // publish: [[mergeAttempt]] publishes it on main.
  // Only create/cloneTable (version 0), fastForward (a branch replay)
  // and upsertBranch (a branch lineage) call [[commitManifest]]
  // directly.

  /** The table head one commit attempt plans over: the version, its
    * file entries, definition ([[TableMeta]]), pending equality deletes
    * and `#cursor` (parsed from ONE read of the manifest), the key's
    * ledger mode ([[keyHashMode]]) and the table properties. */
  private[sources] final case class TableSnapshot(version: Int,
      entries: Seq[FileEntry], meta: TableMeta, hashKey: Boolean,
      eqdels: Seq[EqDel], cursor: Option[String],
      props: Map[String, String]) {
    def next: Int = version + 1
    def schema: StructType = meta.schema
  }

  private def resolveSnapshot(spark: SparkSession,
      root: String): TableSnapshot = {
    val v = latestVersion(spark, root)
    require(v >= 0, s"no graft table at $root")
    val text = manifestText(spark, root, v)
    TableSnapshot(v, parseManifest(text), parseMeta(text),
      keyHashMode(spark, root), parseEqDels(text), parseCursor(text),
      tableProperties(spark, root))
  }

  /** How long a cross-table staging may sit uncommitted before a
    * blocked writer reaps it ([[reapStaleStaging]]). */
  private val StaleTxnMs = 600000L

  /** Retries a keyed write verb takes after losing the publish race. */
  private val CommitRetries = 2

  /** THE OCC LOOP: run `body` over a freshly resolved snapshot (or
    * `first`, when the caller already resolved one) until it
    * publishes. A racing committer that wins the manifest rename makes
    * the attempt throw [[ConcurrentCommitException]]; up to
    * `maxRetries` times the verb then redoes its plan against the
    * WINNER's snapshot — the retrying verbs are per-key over the
    * current head, or re-check against it what their plan depends on
    * ([[rewriteCommit]], [[mergeBranch]]), so the redo is correct
    * whatever the winner changed.
    * Before every retry a collision against an ABANDONED cross-table
    * staging is reaped past [[StaleTxnMs]] (the abort is an atomic
    * marker race — a live coordinator still wins). ONLY the
    * commit-race signal retries: a broader catch would silently re-run
    * a whole distributed merge on unrelated failures and mask the root
    * cause. A losing attempt's staged files become unreferenced
    * orphans that [[vacuum]] sweeps, like a crashed commit's. */
  private[sources] def occCommit[T](spark: SparkSession, root: String,
      maxRetries: Int, first: Option[TableSnapshot] = None)(
      body: TableSnapshot => T): T = {
    var snap = first.getOrElse(resolveSnapshot(spark, root))
    var attempt = 0
    while (true) {
      try return body(snap)
      catch {
        case _: ConcurrentCommitException if attempt < maxRetries =>
          attempt += 1
          reapStaleStaging(spark, root, StaleTxnMs)
          snap = resolveSnapshot(spark, root)
      }
    }
    sys.error("unreachable")
  }

  /** [[occCommit]] for a verb that merges a caller's batch. With
    * `align` (the pass-through columns, e.g. the CDC op column) the
    * batch is first matched to the table schema ([[autoMergeAlign]]).
    * It is then persisted once for every attempt — the merge evaluates
    * it several times (probes, then the join feeding the write), and
    * the cache runs the caller's plan once — unless `cacheBatch =
    * false` (trivial-scan batches such as the streaming sink's, where
    * re-scanning beats the cache materialization; measured, see
    * OPTIMIZATION_r18.md) or the caller already cached it. A cache
    * belongs to whoever persisted it: a caller's stays alive after the
    * commit. */
  private def batchCommit[T](spark: SparkSession, root: String,
      batch0: DataFrame, align: Option[Seq[String]], cacheBatch: Boolean,
      maxRetries: Int)(body: (TableSnapshot, DataFrame) => T): T = {
    val (snap, aligned) = align match {
      case Some(keep) => autoMergeAlign(spark, root, batch0, keep)
      case None => (resolveSnapshot(spark, root), batch0)
    }
    val owned = cacheBatch &&
      aligned.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val batch =
      if (owned)
        aligned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else aligned
    try occCommit(spark, root, maxRetries, Some(snap))(body(_, batch))
    finally if (owned) { batch.unpersist(); () }
  }

  private val NoWrite = Written(Seq.empty, Seq.empty)

  /** Publish `carried` plus the files `w` wrote (with their stats
    * sidecar lines) as `snap`'s next version, carrying `snap`'s
    * definition, and its pending eqdels and cursor unless `eqdels` /
    * `cursor` replace them. */
  private def commitWritten(spark: SparkSession, root: String,
      snap: TableSnapshot, carried: Seq[FileEntry], w: Written,
      txn: Option[TxnRef] = None, cursor: Option[String] = None,
      eqdels: Option[Seq[EqDel]] = None): Unit =
    commitManifest(spark, root, snap.next, carried ++ w.entries,
      eqdels.getOrElse(snap.eqdels), cursor.orElse(snap.cursor), snap.meta,
      statLines = w.statLines, kmvLines = w.kmvLines, txn = txn)

  /** THE REWRITE COMMIT of the maintenance verbs ([[optimize]],
    * [[absorbDvs]], [[optimizeZOrder]]): `write` re-encodes the masked
    * rows of `inputs` (files of `snap`) ONCE, `beforeCommit` runs (the
    * test seam a concurrent committer races into), and the commit
    * publishes `head − inputs + written`. A rewrite only re-encodes its
    * inputs' rows, so a racing commit is resolved by overlap (the Delta
    * conflict matrix, compaction row):
    *   - every input `(relPath, dvPath)` still live at the new head and
    *     the head's pending eqdels equal to `snap`'s → REBASE onto the
    *     head, zero data re-I/O (the stats sidecar re-pins at the
    *     rebased version);
    *   - otherwise the staged output is STALE: an input was rewritten
    *     or DV'd, or an eqdel landed that the output was written
    *     without (the fresh files are named after `snap`'s next
    *     version, so an eqdel committed AT that version never masks
    *     them) → clean [[ConcurrentCommitException]], head untouched,
    *     staged files left as vacuum-swept orphans.
    * The racer's update is never lost in either arm. Returns
    * (newVersion, nFilesWritten, nFilesCarried). */
  private def rewriteCommit(spark: SparkSession, root: String,
      snap: TableSnapshot, inputs: Seq[FileEntry],
      beforeCommit: () => Unit = () => ())(
      write: DataFrame => Written): (Int, Int, Int) = {
    val w = write(readEntries(spark, root, snap.schema, inputs, snap.eqdels))
    beforeCommit()
    val ids = inputs.map(e => (e.relPath, e.dvPath)).toSet
    occCommit(spark, root, CommitRetries, Some(snap)) { head =>
      val live = head.entries.map(e => (e.relPath, e.dvPath)).toSet
      if (!ids.forall(live) || head.eqdels != snap.eqdels)
        throw new ConcurrentCommitException(
          s"OPTIMIZE conflicts with a concurrent commit at $root: " +
            "compaction input files were rewritten or removed, or new " +
            "equality deletes landed — aborting cleanly (head " +
            "unchanged; staged files are vacuum-swept orphans). Re-run " +
            "OPTIMIZE against the new snapshot.")
      val carried = head.entries.filterNot(e => ids((e.relPath, e.dvPath)))
      commitWritten(spark, root, head, carried, w)
      (head.next, w.entries.size, carried.size)
    }
  }

  /** The data file name of an entry — the key DV sidecars and the
    * masked reads' `__graft_dv_file` column use. */
  private def nameOf(e: FileEntry): String =
    new org.apache.hadoop.fs.Path(e.relPath).getName

  /** Fold newly deleted positions into DELETION VECTORS for `files`:
    * each file's fresh sidecar holds its rows of `newPos`
    * (`__graft_dv_file`, `__graft_dv_pos`) ∪ its EXISTING DV positions
    * — a sidecar fully describes its file's deletions, readers never
    * chain DVs (the superseded sidecar is vacuum-swept). All sidecars
    * land under one `dv-v{N}` dir of version `v`. `newRows` holds each
    * file's newly deleted row count by name. Returns the updated
    * entries. */
  private def foldDvs(spark: SparkSession, root: String, v: Int,
      files: Seq[FileEntry], newPos: DataFrame,
      newRows: Map[String, Long]): Seq[FileEntry] =
    if (files.isEmpty) Seq.empty
    else {
      val pos0 = newPos.filter(col(DvNameCol).isin(files.map(nameOf): _*))
      val prior = files.filter(_.hasDv)
      val allPos =
        if (prior.isEmpty) pos0
        else pos0.unionByName(
          dvPositions(spark, root, prior, forJoin = false)
            .select(col(DvNameCol), col(DvPosCol)))
      val dvRel = f"data/dv-v$v%05d-" +
        java.util.UUID.randomUUID().toString.take(8)
      writeDvSidecars(spark, s"$root/$dvRel", allPos)
      files.map(e => e.copy(dvPath = s"$dvRel/${nameOf(e)}.dv",
        dvRows = e.dvRows + newRows.getOrElse(nameOf(e), 0L)))
    }

  /** SCHEMA AUTO-MERGE (`graft.schema.autoMerge = true`, the Delta
    * `mergeSchema` idiom): when the property is on, a batch whose
    * schema drifts from the table's is ALIGNED instead of refused —
    * columns the table lacks are added first (a metadata-only
    * [[evolveAddColumns]] commit: old files read NULL for them,
    * nothing rewrites), and columns the batch lacks ride as NULLs
    * (the keyed merge's column-wise coalesce then keeps the target's
    * value for matched rows — a narrow CDC producer can't erase
    * columns it doesn't know about). OFF by default: silent widening
    * would let one typo'd producer mutate the schema forever; the
    * refusal message names the property. `keep` columns (the CDC op
    * column) pass through untouched.
    *
    * At 100 TB this is the difference between "the upstream service
    * added a field, the ingest stream keeps flowing" and "every
    * consumer pages someone to run a migration": the evolve commit is
    * O(metadata) and the very next micro-batch lands with the new
    * column populated. Returns the snapshot the aligned batch matches
    * (re-resolved after an evolve commit) and the aligned batch. */
  private def autoMergeAlign(spark: SparkSession, root: String,
      batch: DataFrame, keep: Seq[String]): (TableSnapshot, DataFrame) = {
    val snap = resolveSnapshot(spark, root)
    val tbl = snap.schema
    val dataFields = batch.schema.fields.filterNot(f => keep.contains(f.name))
    val sameSet = dataFields.map(_.name).sorted
      .sameElements(tbl.fieldNames.sorted)
    if (sameSet) return (snap, batch) // the normal path: zero overhead
    val on = snap.props
      .get("graft.schema.autoMerge").exists(_.equalsIgnoreCase("true"))
    require(on, {
      val extra = dataFields.map(_.name).filterNot(tbl.fieldNames.contains)
      val missing = tbl.fieldNames.filterNot(n =>
        dataFields.exists(_.name == n))
      "batch schema must match table schema (batch adds " +
        s"[${extra.mkString(", ")}], lacks [${missing.mkString(", ")}]) — " +
        "set TBLPROPERTIES ('graft.schema.autoMerge' = 'true') to evolve " +
        "the table and NULL-fill narrow batches automatically"
    })
    val extra = dataFields.filterNot(f => tbl.fieldNames.contains(f.name))
    val evolved =
      if (extra.isEmpty) snap
      else {
        evolveAddColumns(spark, root, extra.map(f =>
          org.apache.spark.sql.types.StructField(f.name, f.dataType,
            nullable = true)).toSeq)
        resolveSnapshot(spark, root)
      }
    (evolved, batch.select(evolved.schema.fields.map(f =>
      if (batch.schema.fieldNames.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)) ++ keep.map(col): _*))
  }

  /** Copy-on-write upsert: batch rows REPLACE same-key table rows
    * column-wise (a NULL batch cell falls back to the target's value —
    * partial-update semantics); unmatched batch keys insert. It is the
    * [[keyedMerge]] with no op column, always copy-on-write whatever
    * `graft.dml.mode` says: only files whose key interval contains a
    * batch key are rewritten; all others are carried forward by
    * reference into the new manifest.
    *
    * Optimistic concurrency through the commit core
    * ([[occCommit]]): a racing committer that loses the manifest
    * rename retries against the WINNER'S snapshot — upsert is
    * last-write-wins per key over the current snapshot, so two
    * concurrent upserts (disjoint or not) both land as consecutive
    * versions. The batch is persisted for the commit unless
    * `cacheBatch = false` or the caller cached it ([[batchCommit]]).
    *
    * Returns (newVersion, nFilesRewritten, nFilesCarried). */
  def upsert(spark: SparkSession, root: String, batch: DataFrame,
      key: String, nBuckets: Int = 8,
      cacheBatch: Boolean = true): (Int, Int, Int) =
    batchCommit(spark, root, batch, Some(Seq.empty), cacheBatch,
      CommitRetries)(mergeAttempt(spark, root, _, _, key, None, None,
        nBuckets))

  /** FILE-HIT PROBE shared by the merge commits: which manifest files
    * could contain a batch key — the batch's key stats interval-joined
    * against the broadcast (metadata-sized) ledger, grouped straight
    * to distinct `rel_path`s. ONE exchange end to end: no pre-distinct
    * on the batch side (keyed batches are ~one row per key, and the
    * groupBy's partial aggregation dedups map-side before the
    * shuffle), so a commit pays one less shuffle wave than the old
    * distinct→join→distinct shape. `badRow`, when given, rides the
    * SAME pass (left-outer so a bad row that hits no file still
    * counts) — the op-domain probe that used to be its own action.
    * The ledger is `entries`' (rel_path, mn, mx) key intervals.
    * Returns (hit rel_paths, any bad row). */
  private def probeHitFiles(spark: SparkSession, batch: DataFrame,
      keyExpr: org.apache.spark.sql.Column, entries: Seq[FileEntry],
      badRow: Option[org.apache.spark.sql.Column])
      : (Set[String], Boolean) = {
    import spark.implicits._
    val ledger = entries.map(e => (e.relPath, e.minKey, e.maxKey))
      .toDF("rel_path", "mn", "mx")
    val probe = batch.select(keyExpr.as("__probe_k"),
      badRow.getOrElse(lit(false)).as("__probe_bad"))
    val joined = probe.join(broadcast(ledger),
      col("__probe_k") >= col("mn") && col("__probe_k") <= col("mx"),
      if (badRow.isDefined) "left_outer" else "inner")
    val rows = joined.groupBy(col("rel_path"))
      .agg(max(when(col("__probe_bad"), 1L).otherwise(0L)).as("bad"))
      .collect()
    val hit = rows.filter(r => !r.isNullAt(0)).map(_.getString(0)).toSet
    (hit, rows.exists(r => r.getLong(1) > 0L))
  }

  /** One single-attempt upsert of `batch` as it stands (no alignment,
    * no cache) — the staging primitive of [[GraftTxn]], whose `txn`
    * reference keeps the manifest invisible until the coordinator
    * commits. */
  private[sources] def upsertOnce(spark: SparkSession, root: String,
      batch: DataFrame, key: String, nBuckets: Int,
      txn: Option[TxnRef] = None): (Int, Int, Int) =
    occCommit(spark, root, maxRetries = 0)(
      mergeAttempt(spark, root, _, batch, key, None, None, nBuckets, txn))

  /** Thrown by an audited upsert attempt whose staged rows fail a
    * check — never a retry signal. */
  private final class AuditRejected(val violations: Map[String, Long])
    extends RuntimeException(s"write audit rejected: $violations")

  /** The rows of `rows` failing each (name, predicate) check — false or
    * NULL — counted in ONE aggregation; only failing checks appear. */
  private def auditViolations(rows: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Long] = {
    val aggs = checks.map { case (name, pred) =>
      sum(when(pred.isNull || !pred, 1L).otherwise(0L)).as(name) }
    val counts = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.map(_._1).zipWithIndex.collect {
      case (name, i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        name -> counts.getLong(i)
    }.toMap
  }

  /** What a [[keyedMerge]] hands its caller to publish: the entries it
    * keeps (carried as they are, or re-pointed at a fresh deletion
    * vector — the files it reports carried), the files it wrote, and
    * how many of `snap`'s files it rewrote. */
  private final case class Merged(kept: Seq[FileEntry], written: Written,
      rewritten: Int)

  /** THE KEYED MERGE, the one plan of every keyed write — upsert,
    * auditedUpsert, upsertOnce, insertBatch, the CDC apply (and through
    * it the MV refresh, mergeBranch and SQL MERGE) and upsertBranch:
    * probe which of `snap`'s files could hold a batch key, full-outer
    * join their live rows with the batch on `key` (q204's shape), and
    * write the merged rows as fresh files of version `snap.next`.
    * Nothing is published: the caller commits `kept ++ written` to its
    * lineage.
    *
    * `opCol`, when given, names each row's op: `upsert` merges
    * column-wise (a NULL batch cell keeps the target's value — the
    * partial-update contract); `replace` lands the row VERBATIM, NULLs
    * included (SQL `SET col = NULL` must null the column); `delete`
    * drops the key (an absent key no-ops, the idempotent CDC
    * contract). A key both upserted and deleted in one batch is
    * deleted. Without `opCol` every row is an `upsert`: no op probe,
    * no replace column, no delete anti-join.
    *
    * `maxDirty` chooses how changed rows retire:
    *   - None, COPY-ON-WRITE: every probe-hit file is rewritten, one
    *     with no matched key too — a key inserted inside a file's
    *     interval lands in its rewrite, which keeps file intervals
    *     disjoint;
    *   - Some(ratio), MERGE-ON-READ: a matched row retires its OLD
    *     POSITION in a deletion vector (an update is a delete plus an
    *     insert, the Iceberg MoR shape) and its postimage lands in a
    *     fresh file; the touched files split by dirty ratio
    *     ([[classifyDirty]]) — past `ratio` a file is rewritten whole
    *     (its survivors join the fresh files), fully dead it drops. At
    *     100 TB a k-row MERGE writes O(k) positions and O(k) fresh
    *     rows, never the touched files' bytes. */
  private def keyedMerge(spark: SparkSession, root: String,
      snap: TableSnapshot, batch: DataFrame, key: String,
      opCol: Option[String], maxDirty: Option[Double],
      nBuckets: Int): Merged = {
    val schema = snap.schema
    require(opCol.forall(batch.columns.contains) && batch.columns
      .filterNot(opCol.contains).sorted.sameElements(schema.fieldNames.sorted),
      "batch schema must be table schema" + opCol.fold("")(op => s" + $op"))
    // ONE action probes both planes: the file-hit interval join against
    // the broadcast (metadata-sized) ledger AND the op-domain check (a
    // NULL op would silently drop the row, a typo'd one silently apply
    // as an upsert). The probe is the one full clean pass over the
    // (persisted) batch, so it also materializes the cache for every
    // later evaluation.
    val badOp = opCol.map(op =>
      col(op).isNull || !col(op).isin("upsert", "replace", "delete"))
    val (hit, anyBadOp) = probeHitFiles(spark, batch,
      keyStatExpr(col(key), snap.hashKey), snap.entries, badOp)
    // error path only: re-scan (the probe materialized the cache, so
    // this reads the same rows) for the offending value
    if (anyBadOp) throw new IllegalArgumentException(s"applyCdcBatch: " +
      s"unknown ${opCol.get} value ${batch.filter(badOp.get).first()
        .getAs[Any](opCol.get)} — every row must carry 'upsert', " +
      "'replace' or 'delete'")
    val (rewrite, carry) = snap.entries.partition(e => hit(e.relPath))
    val tMark = "__graft_t"; val bMark = "__graft_b"
    // The join's two sides. Copy-on-write reads the hit rows as they
    // are, and drops the op column for a boolean: every column added
    // to the join changes the bytes AQE coalesces, and with them the
    // write's range sample and file boundaries. Merge-on-read keeps
    // each row's file and position, and marks both sides.
    val rep = "__graft_replace"
    val (t, b, replace) = maxDirty match {
      case None =>
        (readEntries(spark, root, schema, rewrite, snap.eqdels),
          opCol.fold(batch)(op => batch.filter(col(op) =!= "delete")
            .withColumn(rep, col(op) === "replace").drop(op)),
          opCol.map(_ => col(rep) === true))
      case Some(_) =>
        (readMaskedWithName(spark, root, schema, rewrite, snap.eqdels)
            .withColumn(tMark, lit(true)),
          batch.withColumn(bMark, lit(true)),
          opCol.map(op => col(s"b.$op") === "replace"))
    }
    val j = t.as("t").join(b.as("b"), col(s"t.$key") === col(s"b.$key"),
      "full_outer")
    def upserted(c: String) = {
      val merged = coalesce(col(s"b.$c"), col(s"t.$c"))
      replace.fold(merged)(when(_, col(s"b.$c")).otherwise(merged))
    }
    // RAW-key anti-join (exact for integral and string keys alike —
    // never a hash, which could delete a colliding row): the tie rule
    def dropDeleted(rows: DataFrame): DataFrame = opCol.fold(rows)(op =>
      rows.join(batch.filter(col(op) === "delete")
        .select(col(key).as("__graft_delkey")).distinct(),
        col(key) === col("__graft_delkey"), "left_anti"))
    val cols = schema.fieldNames.toSeq
    // WRITE (stage): files land under an attempt-unique dir, reachable
    // only through a manifest that may never be published
    def write(rows: DataFrame, nRetired: Int) = writeDataFiles(spark, root,
      snap.next, snap.meta, dropDeleted(rows), key,
      writeBuckets(snap, nBuckets, nRetired))
    maxDirty match {
      case None =>
        Merged(carry, write(j.select(cols.map(c => upserted(c).as(c)): _*),
          rewrite.size), rewrite.size)
      case Some(ratio) =>
        // ONE evaluation feeds the counts, the sidecars AND the written
        // rows — a nondeterministic source can't diverge between them
        // (an uncached join here was also measured SLOWER on the
        // replica sink, r19)
        j.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val matched = col(tMark).isNotNull && col(bMark).isNotNull
          // distinct positions: the ledger's dvRows must equal the
          // sidecar's line count even if a batch repeats a key
          val touched = j.filter(matched).groupBy(col(DvNameCol))
            .agg(countDistinct(col(DvPosCol)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val d = classifyDirty(rewrite, touched, ratio)
          val bPresent = col(bMark).isNotNull
          // a row with no batch side is a target row
          val rewritten = !bPresent &&
            col(DvNameCol).isin(d.rewrite.map(nameOf): _*)
          val bWrites = opCol.fold(bPresent)(op =>
            bPresent && col(s"b.$op") =!= "delete")
          // fresh files: every post-action row plus the survivors of
          // the files rewritten whole, bucketed by how many files'
          // content is re-laid (rewrites + dead files) — a narrow MERGE
          // lands one small file. No emptiness pre-probe: an all-delete
          // batch writes zero data files (readBack contract)
          val w = write(j.filter(bWrites || rewritten)
            .select(cols.map(c => when(bPresent, upserted(c))
              .otherwise(col(s"t.$c")).as(c)): _*),
            d.rewrite.size + d.dead.size)
          val dvs = foldDvs(spark, root, snap.next, d.dv,
            j.filter(matched).select(col(DvNameCol), col(DvPosCol))
              .distinct(), touched)
          Merged(carry ++ d.clean ++ dvs, w, d.rewrite.size)
        } finally j.unpersist()
    }
  }

  /** One keyed write attempt on the main lineage: the [[keyedMerge]]
    * over `snap`, the write audit when `checks` are given, then the
    * publish (with `txn` / `cursor`). Returns (newVersion,
    * nFilesRewritten, nFilesCarried). */
  private def mergeAttempt(spark: SparkSession, root: String,
      snap: TableSnapshot, batch: DataFrame, key: String,
      opCol: Option[String], maxDirty: Option[Double], nBuckets: Int,
      txn: Option[TxnRef] = None, cursor: Option[String] = None,
      checks: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty)
      : (Int, Int, Int) = {
    val m = keyedMerge(spark, root, snap, batch, key, opCol, maxDirty,
      nBuckets)
    if (checks.nonEmpty) {
      // AUDIT the staged files (fresh files postdate every pending eqdel)
      val violations = auditViolations(readEntries(spark, root, snap.schema,
        m.written.entries, Seq.empty), checks)
      if (violations.nonEmpty) throw new AuditRejected(violations)
    }
    // PUBLISH: the create-if-absent manifest rename, as every commit
    commitWritten(spark, root, snap, m.kept, m.written, txn = txn,
      cursor = cursor)
    (snap.next, m.rewritten, m.kept.size)
  }

  /** APPEND-ONLY UPSERT via EQUALITY DELETES — the streaming-ingest
    * limit of merge-on-read: the batch lands as fresh data files plus
    * ONE key list (`#eqdel` manifest header → `data/eqdel-v…/`), and
    * NO base file is read OR rewritten — not even to find positions.
    * Same-key rows in older files are retired lazily: reads anti-join
    * the pending key set ([[readEntries]]/the SQL scan), and
    * [[resolveEqDels]] later converts the keys to position deletion
    * vectors in one pruned pass — paying the base read ONCE instead
    * of once per micro-batch (a minute-trigger CDC stream onto a
    * 100 TB table does 1,440 O(batch) commits a day and ONE position
    * resolve, vs 1,440 position joins). The write-side cost model of
    * Iceberg v2 equality deletes / Paimon's changelog inserts.
    *
    * Semantics: rows land VERBATIM (full-row replace per key — the
    * Debezium-style full-image CDC contract), so a narrow batch is
    * refused rather than NULL-filled (no schema auto-merge here: a
    * NULL-filled column would overwrite the target's value). `opCol`,
    * when given, must hold `replace` or `delete` per row; column-wise
    * partial-update "upsert" is deliberately NOT offered here — it
    * needs the old row, which this path never reads (use
    * [[applyCdcBatch]] for that). A batch may carry AT MOST ONE row
    * per key: two same-batch rows with one key would both survive
    * (both postdate the batch's own eqdel). The batch is persisted for
    * the commit — it is evaluated up to four times (op/separator
    * probes, the eqdel key projection, the data write).
    *
    * Returns (newVersion, nEqDelKeysRecorded). */
  def appendUpsert(spark: SparkSession, root: String, batch: DataFrame,
      key: String, opCol: Option[String] = None,
      nBuckets: Int = 8): (Int, Long) =
    batchCommit(spark, root, batch, None, cacheBatch = true,
      CommitRetries)(appendUpsertAttempt(spark, root, _, _, key, opCol,
        nBuckets))

  private def appendUpsertAttempt(spark: SparkSession, root: String,
      snap: TableSnapshot, batch: DataFrame, key: String,
      opCol: Option[String], nBuckets: Int): (Int, Long) = {
    require(keyColumn(spark, root).nonEmpty,
      s"appendUpsert needs the table's recorded key column at $root")
    val schema = snap.schema
    opCol match {
      case Some(oc) =>
        require((batch.columns.toSet - oc) == schema.fieldNames.toSet,
          "batch schema must be table schema + the op column")
        val bad = batch.filter(col(oc).isNull ||
          !col(oc).isin("replace", "delete")).select(col(oc))
          .limit(1).collect()
        require(bad.isEmpty, s"appendUpsert: op must be 'replace' or " +
          s"'delete', got ${bad.headOption.map(_.get(0)).orNull} " +
          "('upsert' partial-merge needs the old row — this path " +
          "never reads it; use applyCdcBatch)")
      case None =>
        require(batch.schema.fieldNames.sorted
          .sameElements(schema.fieldNames.sorted),
          "batch schema must match table schema")
    }
    val v = snap.next
    import spark.implicits._
    val hashKey = snap.hashKey
    // the eqdel sidecar is tab-separated `key\tversion` text — a
    // string key carrying the separator or a newline would corrupt
    // the list silently, so refuse up front (CDC keys are UUIDs and
    // natural identifiers; control characters have no business there)
    if (hashKey) {
      val bad = batch.filter(col(key).contains("\t") ||
        col(key).contains("\n") || col(key).contains("\r"))
        .select(col(key)).limit(1).collect()
      require(bad.isEmpty, "appendUpsert: string keys must not contain " +
        s"tab/newline (got ${bad.headOption.map(_.get(0)).orNull}) — " +
        "the equality-delete key list is line/tab-delimited text")
    }
    // keys to retire = every batch key that COULD exist in the base
    // snapshot — a pure metadata interval probe against the file
    // ledger (no data read); an append-mostly stream records few or
    // zero keys, and a zero-key batch commits as a plain append.
    // The sidecar stores the RAW key (row-level masking compares it
    // exactly); the probe runs on the ledger's stat domain.
    val ledger = broadcast(snap.entries.map(e => (e.minKey, e.maxKey))
      .toDF("mn", "mx"))
    val eqRel = f"data/eqdel-v$v%05d-" +
      java.util.UUID.randomUUID().toString.take(8)
    // the key count rides the write itself (an Observation metric) —
    // it used to cost a read-back of the just-written text files
    val eqObs = org.apache.spark.sql.Observation()
    batch.select(col(key).as("__rawk"),
        keyStatExpr(col(key), hashKey).as("k")).distinct()
      .join(ledger, col("k") >= col("mn") && col("k") <= col("mx"),
        "left_semi")
      .select(concat_ws("\t", col("__rawk"), lit(v)).as("value"))
      .observe(eqObs, count(lit(1)).as("n"))
      .write.mode("overwrite").text(s"$root/$eqRel")
    val nKeys = eqObs.get("n").asInstanceOf[Long]
    val rows = opCol.fold(batch)(oc =>
      batch.filter(col(oc) =!= "delete").drop(oc))
    val w = writeDataFiles(spark, root, v, snap.meta, rows.select(
      schema.fieldNames.map(col): _*), key,
      writeBuckets(snap, nBuckets, 0))
    if (w.entries.isEmpty && nKeys == 0L) {
      // nothing inserted, nothing retired: leave the table untouched
      val (f, _) = fs(root, spark)
      f.delete(new org.apache.hadoop.fs.Path(root, eqRel), true)
      return (snap.version, 0L)
    }
    val pend = snap.eqdels ++
      (if (nKeys > 0) Seq(EqDel(v, eqRel, nKeys)) else Seq.empty)
    commitWritten(spark, root, snap, snap.entries, w, eqdels = Some(pend))
    (v, nKeys)
  }

  /** RESOLVE pending equality deletes into position deletion vectors
    * — the deferred half of [[appendUpsert]]'s bargain, run once per
    * maintenance window instead of once per micro-batch. One pruned
    * pass: only files whose key interval contains a retired key (and
    * that predate its eqdel) are read; matched positions fold into
    * the files' DV sidecars (accumulating atop existing DVs exactly
    * like the MoR DML path), fully-dead files drop, and the pending
    * list clears. Content is logically unchanged — reads lose the
    * key anti-join tax, and [[absorbDvs]]/OPTIMIZE then retire the
    * DVs on their own schedule (the two-tier debt ladder:
    * eqdel → DV → rewrite). Single attempt. Returns (newVersion,
    * filesTouched, keysResolved); a table with nothing pending
    * no-ops. */
  def resolveEqDels(spark: SparkSession, root: String, key: String)
    : (Int, Int, Long) =
    occCommit(spark, root, maxRetries = 0)(
      resolveEqDelsAttempt(spark, root, _, key))

  private def resolveEqDelsAttempt(spark: SparkSession, root: String,
      snap: TableSnapshot, key: String): (Int, Int, Long) = {
    val eq = snap.eqdels
    if (eq.isEmpty) return (snap.version, 0, 0L)
    val entries = snap.entries
    val subject = entries.filter(e => eqDelsApplying(e, eq).nonEmpty)
    val v = snap.next
    if (subject.isEmpty) { // stale pending list (e.g. full rewrite
      // since) — clear it with a metadata-only commit
      commitWritten(spark, root, snap, entries, NoWrite, eqdels = Some(Seq.empty))
      return (v, 0, 0L)
    }
    import spark.implicits._
    val hashMode = snap.hashKey
    val keys = eqDelKeys(spark, root, eq, hashMode) // (__eq_k, __eq_v max)
    // interval-prune: a subject file is HIT iff some retired key (of
    // a NEWER eqdel than the file) falls in its key interval — probed
    // in the ledger's STAT domain (the raw key hashes for string keys)
    val ledger = subject.map(e =>
      (nameOf(e), e.minKey, e.maxKey, addedVersion(e.relPath)))
      .toDF("__f", "mn", "mx", "av")
    val probeK = keyStatExpr(col("__eq_k"), hashMode)
    val hitNames = keys.join(broadcast(ledger),
        probeK >= col("mn") && probeK <= col("mx") &&
          col("__eq_v") > col("av"))
      .select("__f").distinct().collect().map(_.getString(0)).toSet
    val hit = subject.filter(e => hitNames(nameOf(e)))
    if (hit.isEmpty) {
      commitWritten(spark, root, snap, entries, NoWrite, eqdels = Some(Seq.empty))
      return (v, 0, 0L)
    }
    // positions of doomed rows in hit files: raw read with per-file
    // name/position/added-version, existing DV positions excluded
    // (they are already dead — re-recording them would double-count
    // dvRows and break the exact liveRows ledger)
    val phys = physicalSchema(snap.schema)
    val keyPhys = physMap(snap.schema).getOrElse(key, key)
    val raw = spark.read.schema(phys)
      .parquet(hit.map(e => dataPath(root, e.relPath)): _*)
      .select(
        // RAW key for string keys: the doomed-row join must be exact
        // (hash equality could kill a colliding innocent row)
        (if (hashMode) col(keyPhys) else col(keyPhys).cast("long"))
          .as("__k"),
        element_at(split(col("_metadata.file_path"), "/"), -1)
          .as(DvNameCol),
        col("_metadata.row_index").as(DvPosCol),
        regexp_extract(col("_metadata.file_path"),
          "/data/v(\\d{5})-[0-9a-f]{8}/", 1).cast("int").as("__av"))
    val priorDvd = hit.filter(_.hasDv)
    val live =
      if (priorDvd.isEmpty) raw
      else raw.join(dvPositions(spark, root, priorDvd),
        Seq(DvNameCol, DvPosCol), "left_anti")
    val doomed = live.join(keys,
        col("__k") === col("__eq_k") && col("__eq_v") > col("__av"),
        "left_semi")
      .select(col(DvNameCol), col(DvPosCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = doomed.groupBy(col(DvNameCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // fully dead files drop from the manifest; a probed file nothing
      // matched keeps its entry unless it carries a DV to re-fold
      val alive = hit.filter(e =>
        e.dvRows + counts.getOrElse(nameOf(e), 0L) < e.nRows)
      val (refold, kept) =
        alive.partition(e => e.hasDv || counts.contains(nameOf(e)))
      val untouched = entries.filterNot(e => hitNames(nameOf(e)))
      commitWritten(spark, root, snap,
        untouched ++ kept ++ foldDvs(spark, root, v, refold, doomed, counts),
        NoWrite, eqdels = Some(Seq.empty))
      (v, hit.size, counts.values.sum)
    } finally doomed.unpersist()
  }

  /** AUTOMATED EQDEL RESOLUTION — the eqdel tier of the maintenance
    * ladder (sibling of [[absorbDvsIfDirty]]): a free header probe
    * fires [[resolveEqDels]] when the pending key count exceeds
    * `graft.eqdel.maxPendingRatio` × live rows (table property,
    * default 0.02) OR `graft.eqdel.maxPendingKeys` (default
    * 4,000,000 — the broadcast bound: past it every read's anti-join
    * shuffles, and the SQL scan's per-executor key set stops being
    * small). Returns None below both thresholds. */
  def resolveEqDelsIfPending(spark: SparkSession, root: String,
      key: String, ratioOverride: Option[Double] = None)
    : Option[(Int, Int, Long)] = {
    val base = latestVersion(spark, root)
    val eq = pendingEqDels(spark, root, base)
    if (eq.isEmpty) return None
    val props = tableProperties(spark, root)
    val ratio = ratioOverride.orElse(
      props.get("graft.eqdel.maxPendingRatio").map(_.toDouble))
      .getOrElse(0.02)
    require(ratio > 0.0 && ratio <= 1.0,
      s"graft.eqdel.maxPendingRatio must be in (0, 1], got $ratio")
    val maxKeys = props.get("graft.eqdel.maxPendingKeys").map(_.toLong)
      .getOrElse(4L * 1000 * 1000)
    val pend = eq.map(_.nKeys).sum
    val rows = loadManifest(spark, root, base).map(_.liveRows).sum
    if (pend > maxKeys || (rows > 0 && pend.toDouble / rows > ratio))
      Some(resolveEqDels(spark, root, key))
    else None
  }

  /** Apply a CDC batch in ONE commit — the full MERGE shape (matched
    * delete + matched update + unmatched insert): `batch` carries the
    * table's columns plus an `opCol` ∈ upsert | replace | delete, and
    * is the [[keyedMerge]] with that op column. Upsert rows merge
    * column-wise exactly like [[upsert]] (NULL batch cell keeps the
    * target's value); replace rows land VERBATIM, NULLs included — the
    * op SQL UPDATE / MERGE assignments ride, where `SET col = NULL`
    * must actually write NULL; delete rows drop their key if present
    * (absent keys no-op, the idempotent CDC contract). The table's
    * `graft.dml.mode` ([[dmlMode]]) picks copy-on-write (`cow`) or
    * merge-on-read (`dv`, `auto`: deletion vectors, postimages in
    * fresh files).
    * File pruning covers BOTH op kinds with one ledger interval join —
    * a mixed 1,000-row CDC batch against a 100 TB table still touches
    * only the files whose key interval contains a batch key. This is
    * the consumer half of [[changes]]: applying a table's feed to a
    * replica reproduces it version for version (gated by q239).
    * Schema auto-merge applies (the op column rides through the
    * alignment untouched), and the batch is persisted for the commit
    * (op-domain probe, file-hit probe, the merge join) — both through
    * [[batchCommit]]. Retries like [[upsert]] when racing committers
    * collide (the op semantics are per-key against the current
    * snapshot, so a redo against the winner's snapshot is correct).
    * Returns (newVersion, nFilesRewritten, nFilesCarried). */
  def applyCdcBatch(spark: SparkSession, root: String, batch: DataFrame,
      key: String, opCol: String = "_op", nBuckets: Int = 8,
      cacheBatch: Boolean = true): (Int, Int, Int) =
    batchCommit(spark, root, batch, Some(Seq(opCol)), cacheBatch,
      CommitRetries)(applyCdcAttempt(spark, root, _, _, key, opCol,
        nBuckets))

  /** One [[applyCdcBatch]] attempt over `snap`: the [[keyedMerge]] in
    * the form the snapshot's `graft.dml.mode` names ([[mergeDirty]]),
    * publishing `cursor` with it when given (the MV refresh) and
    * `snap`'s otherwise. */
  private[sources] def applyCdcAttempt(spark: SparkSession, root: String,
      snap: TableSnapshot, batch: DataFrame, key: String, opCol: String,
      nBuckets: Int, cursor: Option[String] = None): (Int, Int, Int) =
    mergeAttempt(spark, root, snap, batch, key, Some(opCol),
      mergeDirty(snap.props), nBuckets, cursor = cursor)

  /** WRITE-AUDIT-PUBLISH upsert: stage the commit's data files, audit
    * the rows BEING WRITTEN against declarative expectations, and
    * publish the manifest only if every expectation holds — the
    * quality gate between "the job ran" and "readers see it" (a
    * rejected batch leaves the table at its current version; the
    * staged orphan files are invisible to every reader and swept by
    * [[vacuum]], exactly like a failed commit). `checks` are (name,
    * row predicate) pairs; a row where a predicate is false OR NULL
    * counts as a violation. The audit scans only the merged rows of
    * the rewritten files (the WAP granularity that stays batch-sized
    * at 100 TB — table-wide invariants belong in a scheduled audit,
    * not the write path), and all checks fold into ONE aggregation
    * pass. It is [[upsert]]'s merge with that audit before the
    * publish, under the same commit core. Returns
    * Right((version, rewritten, carried)) on publish, Left(violations
    * per failing check) on rejection. */
  def auditedUpsert(spark: SparkSession, root: String, batch: DataFrame,
      key: String, checks: Seq[(String, org.apache.spark.sql.Column)],
      nBuckets: Int = 8): Either[Map[String, Long], (Int, Int, Int)] = {
    require(checks.nonEmpty, "auditedUpsert without checks is upsert")
    try Right(batchCommit(spark, root, batch, Some(Seq.empty),
      cacheBatch = true, CommitRetries)(
      mergeAttempt(spark, root, _, _, key, None, None, nBuckets,
        checks = checks)))
    catch { case r: AuditRejected => Left(r.violations) }
  }

  /** Copy-on-write delete: rewrite only the files that CONTAIN a
    * matching row (found with one snapshot scan grouped by
    * `input_file_name` — metadata-sized result), carry the rest. It
    * is [[hybridDeleteAttempt]] at `maxDirty = 0.0`: every touched file
    * that keeps a live row rewrites, none takes a DV. Single attempt.
    * Returns (newVersion, nFilesRewritten, nFilesCarried); a fully
    * emptied file counts as rewritten. */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      key: String): (Int, Int, Int) = {
    val (v, _, rewritten, dead, carried) = occCommit(spark, root,
      maxRetries = 0)(hybridDeleteAttempt(spark, root, _, predicate, key, 0.0))
    (v, rewritten + dead, carried)
  }

  /** MERGE-ON-READ delete: commit DELETION VECTORS for the rows
    * matching `predicate` — ZERO data files rewritten whatever the
    * table size (the manifest proves it: every surviving entry keeps
    * its relPath; only DV references change). The 100 TB shape CoW
    * [[deleteWhere]] cannot give: a narrow DELETE's write cost is
    * proportional to the DELETED ROWS (position lists), not to the
    * bytes of every touched file. Reads, CDF, and time travel
    * hash-match the CoW equivalent by construction — every reader
    * masks through the same [[readEntries]]. Files whose every live
    * row is deleted drop out of the manifest entirely (their bytes
    * become vacuum-sweepable once history passes). A file deleted
    * from twice accumulates into ONE fresh DV (the old sidecar is
    * superseded and vacuum-swept); OPTIMIZE absorbs DVs into plain
    * rewrites. Metadata-exact aggregate serving degrades honestly on
    * DV'd files (count stays exact from `nRows − dvRows`; min/max/
    * null/sum answers refuse and fall back to the scan).
    * It is [[hybridDeleteAttempt]] at `maxDirty = 1.0`: a live file's
    * dirty ratio is always below 1, so nothing rewrites (and no key is
    * needed).
    * Returns (newVersion, nFilesDvd, nFilesCarried); a fully emptied
    * file counts as DV'd. */
  def deleteWhereDv(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): (Int, Int, Int) = {
    val (v, dvd, _, dead, carried) = occCommit(spark, root,
      maxRetries = 0)(hybridDeleteAttempt(spark, root, _, predicate, "", 1.0))
    (v, dvd + dead, carried)
  }

  /** POLICY-ROUTED delete — what SQL `DELETE FROM` actually hits
    * (`graft.dml.mode` table property, read from the commit's snapshot;
    * see [[dmlMode]]): `cow` →
    * [[deleteWhere]] (physical removal — the right-to-erasure mode,
    * q249's contract); `dv` → [[deleteWhereDv]] (zero rewrites
    * always); `auto` (default) → per-file dirty-ratio hybrid in ONE
    * commit — barely-touched files take position sidecars (write cost
    * ∝ deleted rows), files past `graft.dml.maxDirtyRatio` rewrite
    * outright, fully-dead files drop from the manifest. Returns
    * (newVersion, nFilesDvd, nFilesRewritten, nFilesCarried). */
  def deleteWhereAuto(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, key: String)
    : (Int, Int, Int, Int) =
    occCommit(spark, root, maxRetries = 0) { snap =>
      val (mode, _) = dmlMode(snap.props)
      val (v, dvd, rw, dead, ca) = hybridDeleteAttempt(spark, root, snap,
        predicate, key, mergeDirty(snap.props).getOrElse(0.0))
      // a fully emptied file counts as rewritten under `cow` and as
      // DV'd under `dv` (what deleteWhere / deleteWhereDv report)
      if (mode == "cow") (v, 0, rw + dead, ca)
      else if (mode == "dv") (v, dvd + dead, 0, ca)
      else (v, dvd, rw, ca)
    }

  /** The per-file dirty-ratio delete over `snap`, the one plan of the
    * delete verbs: drop the fully dead files, rewrite the files past
    * `maxDirty`, DV the barely touched ([[classifyDirty]]). Returns
    * (newVersion, nFilesDvd, nFilesRewritten, nFilesDropped,
    * nFilesCarried). */
  private def hybridDeleteAttempt(spark: SparkSession, root: String,
      snap: TableSnapshot, predicate: org.apache.spark.sql.Column,
      key: String, maxDirty: Double): (Int, Int, Int, Int, Int) = {
    val entries = snap.entries
    val v = snap.next
    if (entries.isEmpty) {
      commitWritten(spark, root, snap, entries, NoWrite)
      return (v, 0, 0, 0, 0)
    }
    // the NEW deletions: masked rows (already-deleted positions can't
    // re-delete) matching the predicate, as (fileName, position) —
    // FALSE-or-NULL rows survive, the SQL DELETE rule. Persisted: ONE
    // evaluation of the predicate feeds the counts, the sidecars, AND
    // the rewrite survivors (anti-join below) — with a
    // nondeterministic predicate (e.g. rand()-sampled erasure) two
    // runs could diverge, committing manifest dvRows that disagree
    // with the sidecars' actual positions, which would corrupt the
    // metadata-exact count(*) (liveRows) pushdown
    val newDel = readMaskedWithName(spark, root, snap.schema, entries,
        snap.eqdels)
      .filter(predicate)
      .select(col(DvNameCol), col(DvPosCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-file deletion counts: metadata-sized (≤ one row per file)
      val newCounts = newDel.groupBy(DvNameCol).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val d = classifyDirty(entries, newCounts, maxDirty)
      val dvUpdated = foldDvs(spark, root, v, d.dv, newDel, newCounts)
      val w =
        if (d.rewrite.isEmpty) NoWrite
        else writeDataFiles(spark, root, v, snap.meta,
          readMaskedWithName(spark, root, snap.schema, d.rewrite, snap.eqdels)
            .join(newDel, Seq(DvNameCol, DvPosCol), "left_anti")
            .drop(DvNameCol, DvPosCol),
          key, math.max(1, d.rewrite.size))
      commitWritten(spark, root, snap, d.clean ++ dvUpdated, w)
      (v, d.dv.size, d.rewrite.size, d.dead.size, d.clean.size)
    } finally newDel.unpersist()
  }

  /** The split of `files` by their newly retired rows (`retired`, by
    * file name): `clean` files retire none; a `dead` file retires its
    * every live row and drops from the manifest; of the rest, a file
    * whose dirty ratio ((retired + already-DV'd rows) / physical rows)
    * is past `maxDirty` is rewritten whole (`rewrite`) and the others
    * take a deletion vector (`dv`). Order within each part is kept. */
  private final case class Dirtied(clean: Seq[FileEntry],
      dead: Seq[FileEntry], rewrite: Seq[FileEntry], dv: Seq[FileEntry])

  private def classifyDirty(files: Seq[FileEntry], retired: Map[String, Long],
      maxDirty: Double): Dirtied = {
    def dirty(e: FileEntry) = retired(nameOf(e)) + e.dvRows
    val (touched, clean) = files.partition(e => retired.contains(nameOf(e)))
    val (dead, alive) = touched.partition(e => dirty(e) >= e.nRows)
    val (rewrite, dv) =
      alive.partition(e => dirty(e).toDouble / e.nRows > maxDirty)
    Dirtied(clean, dead, rewrite, dv)
  }

  /** Write one `<dataFileName>.dv` sidecar per distinct file in
    * `positions` (columns `__graft_dv_file`, `__graft_dv_pos`) under
    * `dir` — EXECUTOR-SIDE (position lists are data-shaped in
    * aggregate and never cross the driver), ascending, newline-
    * separated base-10. One file's positions are bounded by its row
    * count — the same per-task memory bound every DV implementation
    * carries (Delta's RoaringBitmap sidecars cap the same way). */
  private def writeDvSidecars(spark: SparkSession, dir: String,
      positions: DataFrame): Unit = {
    val hconf = confMap(spark)
    positions
      .groupBy(DvNameCol)
      .agg(sort_array(collect_list(col(DvPosCol))).as("ps"))
      .foreach { r =>
        val name = r.getString(0)
        val ps = r.getSeq[Long](1)
        val dest = new org.apache.hadoop.fs.Path(dir, s"$name.dv")
        val f = dest.getFileSystem(confFrom(hconf))
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s".tmp-$name-${java.util.UUID.randomUUID()}")
        val os = f.create(tmp, false)
        try {
          val w = new java.io.BufferedOutputStream(os, 1 << 16)
          ps.foreach { p =>
            w.write(p.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            w.write('\n')
          }
          w.flush()
        } finally os.close()
        // create-if-absent publish; a speculative twin loses quietly
        if (!f.rename(tmp, dest)) f.delete(tmp, false): Unit
      }
  }

  /** Key-range snapshot read with FILE SKIPPING: only data files whose
    * manifest [minKey, maxKey] interval intersects [lower, upper] are
    * opened; a residual filter inside the surviving files completes
    * the predicate. This is the data-skipping read path every
    * lakehouse format serves point/range lookups with — at 100 TB a
    * narrow key range touches a handful of range-bucketed files
    * instead of the table, and the decision costs one pass over the
    * metadata-sized ledger (no data I/O). Returns the same rows as
    * `read(...).filter(key between lower and upper)` by construction;
    * `prunedFileCount` exposes how many files survived for tests. */
  def readRange(spark: SparkSession, root: String, key: String,
      lower: Long, upper: Long, version: Option[Int] = None): DataFrame = {
    require(!keyHashMode(spark, root),
      "readRange is undefined over a hash-ledgered (string) key — " +
        "ranges over hashes are meaningless; use readPointKeys / a " +
        "filtered read instead")
    val v = version.getOrElse(latestVersion(spark, root))
    val entries = loadManifest(spark, root, v)
      .filter(e => e.maxKey >= lower && e.minKey <= upper)
    val schema = tableSchema(spark, root, v)
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
      .filter(col(key).cast("long") >= lower && col(key).cast("long") <= upper)
  }

  /** How many data files a `readRange(lower, upper)` call would open. */
  def prunedFileCount(spark: SparkSession, root: String,
      lower: Long, upper: Long, version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    loadManifest(spark, root, v)
      .count(e => e.maxKey >= lower && e.minKey <= upper)
  }

  /** Files an exact-key lookup set opens — key-interval AND (under a
    * hash layout) bucket pruning, the same rule the DSv2 scan plans
    * by. Test/gate observability for the hash layout's point-lookup
    * story: `k = x` on an n-bucket table opens ~1/n of its files. */
  def prunedFileCountKeys(spark: SparkSession, root: String,
      keys: Seq[Long], version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    snapshotFilesWithDvs(spark, root, v,
      keyValues = Some(keys.sorted.toArray)).size
  }

  /** File count a scan would open under SECONDARY-COLUMN skipping
    * (the round-17 leaf-stats ledger): per-column [lo, hi] intervals
    * in the ledger's long domain (integral value / date epoch-day /
    * timestamp epoch-micros), plus IS NULL / IS NOT NULL conjunct
    * columns, plus an optional partition-transform value set —
    * gate/test observability for the pruning axes. */
  def prunedFileCountStats(spark: SparkSession, root: String,
      colRanges: Map[String, (Long, Long)] = Map.empty,
      isNullCols: Set[String] = Set.empty,
      isNotNullCols: Set[String] = Set.empty,
      pvals: Option[Seq[Long]] = None,
      version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    snapshotFilesWithDvs(spark, root, v,
      pvalValues = pvals.map(_.sorted.toArray),
      colRanges = colRanges, isNullCols = isNullCols,
      isNotNullCols = isNotNullCols).size
  }

  /** [[prunedFileCountKeys]] for ANY key type: probe values convert to
    * the ledger's stat domain ([[keyStatValue]] — raw longs for
    * integral keys, xxhash64 for hash-ledgered string keys) before the
    * interval/bucket test. */
  def prunedFileCountKeysAny(spark: SparkSession, root: String,
      keys: Seq[Any], version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    snapshotFilesWithDvs(spark, root, v,
      keyValues = Some(keys.map(keyStatValue).sorted.toArray)).size
  }

  /** Exact-key-set snapshot read with FILE SKIPPING for ANY key type —
    * the point-lookup verb of a hash-ledgered (string-keyed) table,
    * where [[readRange]] is undefined: only files whose stat interval
    * (and bucket, under a hash layout) can hold a probe are opened;
    * the RAW-key IN filter inside them completes the predicate
    * exactly, so a hash collision costs a file read, never a wrong
    * row. Integral keys work identically (stat = key). */
  def readPointKeys(spark: SparkSession, root: String, key: String,
      keys: Seq[Any], version: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "readPointKeys needs at least one key")
    val v = version.getOrElse(latestVersion(spark, root))
    val stats = keys.map(keyStatValue).toSet
    val hashMode = keyHashMode(spark, root)
    val hashN = hashLayout(spark, root, v)
    val buckets: Option[Set[Int]] = hashN.map { n =>
      if (hashMode) stats.map(s => java.lang.Math.floorMod(s, n.toLong).toInt)
      else keys.map(k => bucketOfKey(keyStatValue(k), n)).toSet
    }
    val entries = loadManifest(spark, root, v).filter { e =>
      stats.exists(s => s >= e.minKey && s <= e.maxKey) &&
        buckets.forall(bs => fileBucket(e.relPath).forall(bs.contains))
    }
    val schema = tableSchema(spark, root, v)
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
      .filter(col(key).isin(keys: _*))
  }

  /** Streaming-ingest commit: create the table on the first batch,
    * upsert on every later one, and SKIP batches whose (queryId,
    * batchId) has already committed (a
    * `_log/ingest-<queryId>-<batchId>.marker` written after the
    * manifest publish) — so a micro-batch replayed by the streaming
    * engine after a failure between sink write and checkpoint commit
    * does not grow the version log. A failure BETWEEN manifest and
    * marker re-runs the upsert, which is content-idempotent
    * (last-write-wins on the same keys) — the same effective-once
    * contract production foreachBatch sinks document.
    *
    * The marker is keyed on BOTH ids (Delta's sink dedup rule): batchId
    * alone is global per table, so a SECOND streaming query — or the
    * same query restarted with a fresh checkpoint — restarts batchIds
    * at 0 and would have its batches SILENTLY skipped (data loss, no
    * error). queryId is stable across restarts of the same checkpoint
    * (it lives in checkpoint metadata), which is exactly the replay
    * scope the guard must cover. An empty queryId keeps the legacy
    * single-writer marker name. */
  def ingestBatch(spark: SparkSession, root: String, batch: DataFrame,
      key: String, batchId: Long, nBuckets: Int = 8,
      queryId: String = "", mode: String = "",
      createHashLayout: Boolean = false,
      maintenance: String = ""): Unit = {
    val (f, _) = fs(root, spark)
    val markerName =
      if (queryId.isEmpty) s"_log/ingest-$batchId.marker"
      else s"_log/ingest-$queryId-$batchId.marker"
    val marker = new org.apache.hadoop.fs.Path(root, markerName)
    if (f.exists(marker)) return
    if (latestVersion(spark, root) < 0)
      create(spark, root, batch, key, nBuckets,
        hashLayout = createHashLayout)
    // mode "eqdel": the APPEND-ONLY upsert — fresh files + a key list,
    // zero base files read per trigger (see [[appendUpsert]]); rows
    // land verbatim (full-image CDC). Anything else takes the
    // graft.dml.mode policy route ([[insertBatch]]).
    // eqdel sink batches KEEP the default persist: unlike insertBatch's
    // trivial trigger-file scans, ingest batches are computed frames
    // (filters/projections over a source read) that the commit
    // evaluates twice (eqdel key list + data write) — A/B'd r19:
    // cacheBatch=false cost q333 +0.8 s and helped nothing
    else if (mode == "eqdel") appendUpsert(spark, root, batch, key,
      nBuckets = nBuckets)
    else insertBatch(spark, root, batch, key, nBuckets)
    val os = f.create(marker, true)
    os.close()
    // AUTO-MAINTENANCE: a continuous sink with no maintenance loop
    // accumulates merge-on-read debt without limit (pending eqdel key
    // sets, DV'd files, small files). With `.option("maintenance",
    // "auto")` — or the `graft.maintenance.auto = true` table
    // property — every Nth committed version runs the free probe
    // ladder ([[maintainIfDue]]): under-threshold tables pay one
    // metadata listing per probe and no-op, so the steady state costs
    // nothing and the debt stays bounded with NO manual verbs.
    val auto = maintenance == "auto" || (maintenance.isEmpty &&
      tableProperties(spark, root)
        .get("graft.maintenance.auto").contains("true"))
    // cadence counts INGESTED BATCHES (the persisted replay markers
    // — restart-stable), not versions: the ladder's own commits
    // advance the version, and a version-modulo tick would re-align
    // onto every batch once maintenance commits shift the count
    lazy val nIngested = f.listStatus(
      new org.apache.hadoop.fs.Path(root, "_log"))
      .count(_.getPath.getName.startsWith("ingest-"))
    if (auto) {
      val every = tableProperties(spark, root)
        .get("graft.maintenance.everyBatches").map(_.toInt).getOrElse(8)
      require(every >= 1,
        s"graft.maintenance.everyBatches must be >= 1, got $every")
      if (nIngested > 0 && nIngested % every == 0) {
        maintainIfDue(spark, root, key); ()
      }
    }
    // AUTO-FRESH MATERIALIZED VIEWS (round 17): the table property
    // `graft.mv.autorefresh` names MV roots to advance on the ingest
    // path (comma-separated; `graft.mv.refreshEveryBatches` sets the
    // cadence, default every batch — the delta is O(feed), so
    // per-trigger freshness is affordable). Safe under concurrent
    // sinks and racing refreshers: each refresh is one commit on the
    // MV table that advances its cursor (exactly-once). A listed root WITHOUT an MV
    // definition is skipped (a dropped MV must not wedge the sink);
    // a real refresh failure propagates — silently serving a stale
    // MV forever would be worse than a loud sink error.
    val mvRoots = tableProperties(spark, root).get("graft.mv.autorefresh")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    if (mvRoots.nonEmpty) {
      val everyMv = tableProperties(spark, root)
        .get("graft.mv.refreshEveryBatches").map(_.toInt).getOrElse(1)
      require(everyMv >= 1,
        s"graft.mv.refreshEveryBatches must be >= 1, got $everyMv")
      if (nIngested > 0 && nIngested % everyMv == 0) mvRoots.foreach {
        mvRoot =>
          val fm = new org.apache.hadoop.fs.Path(mvRoot)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (GraftMv.defExists(fm, mvRoot)) {
            GraftMv.refresh(spark, mvRoot, nBuckets); ()
          }
      }
    }
  }

  /** The AUTO-MAINTENANCE tick — the scheduler the probe ladder was
    * missing: run the three free probes in DEBT ORDER (pending
    * equality deletes resolve to DVs → dirty DVs absorb into plain
    * rewrites → small files bin-pack). Each probe is one metadata
    * listing when under its threshold, so a caller can tick every few
    * commits and pay nothing in the steady state; thresholds come
    * from the table's own properties (`graft.eqdel.maxPendingRatio` /
    * `graft.dv.maxTableDirtyRatio` / `graft.compact.maxSmallFileRatio`
    * and `graft.compact.targetRows`). Returns which tiers fired as
    * (eqdelResolved, dvsAbsorbed, compacted). */
  def maintainIfDue(spark: SparkSession, root: String, key: String)
    : (Boolean, Boolean, Boolean) = {
    val eq = resolveEqDelsIfPending(spark, root, key).isDefined
    val dv = absorbDvsIfDirty(spark, root, key).isDefined
    val target = tableProperties(spark, root)
      .get("graft.compact.targetRows").map(_.toLong).getOrElse(1000000L)
    val opt = optimizeIfFragmented(spark, root, key, target).isDefined
    (eq, dv, opt)
  }

  /** Keyed upsert of a full-schema batch THROUGH THE DML POLICY
    * (`graft.dml.mode`, read from the commit's snapshot) — the shared
    * write path of the streaming sink and SQL `INSERT INTO`: the
    * [[keyedMerge]] with no op column, copy-on-write under `cow`; under
    * `dv`/`auto` a key-hitting batch takes the MERGE-ON-READ route (old
    * positions retire via DV sidecars, postimages land in fresh files
    * — O(changed rows) per micro-batch instead of rewriting every
    * touched file every trigger, the write-amplification difference
    * that decides whether minute-trigger CDC is viable at 100 TB).
    * Pure appends write only fresh files in either mode. Upsert
    * semantics are identical across modes (column-wise coalesce
    * merge). */
  def insertBatch(spark: SparkSession, root: String, batch: DataFrame,
      key: String, nBuckets: Int = 8): Unit = {
    // micro-batch batches are trivial scans of the trigger's files —
    // re-scanning them per probe beats caching them per commit
    // (measured on the sink gates, see OPTIMIZATION_r18.md)
    batchCommit(spark, root, batch, Some(Seq.empty), cacheBatch = false,
      CommitRetries)((snap, b) => mergeAttempt(spark, root, snap, b, key,
        None, mergeDirty(snap.props), nBuckets))
    ()
  }

  /** BUCKET-COUNT EVOLUTION — `ALTER TABLE … SET LAYOUT HASH BUCKETS
    * n` in Scala form: re-lay the whole table under an `n`-bucket
    * hash layout in ONE commit. A growing table's create-time count
    * stops fitting (8 buckets at 100× the data is one enormous task
    * per bucket), and without this verb the only escape is a manual
    * copy into a new table. The rewrite is total by construction
    * (every row re-lands mono-bucket at `n` through the same
    * [[writeDataFiles]] contract every write obeys) and the new count
    * publishes in the manifest header (`#layout`) with the files — so
    * a reader of any OLDER snapshot still buckets/prunes at the count
    * its files were actually written with, and no reader ever
    * observes a mixed layout. DVs and pending equality deletes fold
    * in: the rewrite reads masked content and the fresh files carry no
    * debt. Also
    * ADOPTS the layout on a previously range-bucketed table — the
    * co-locate-me-for-joins migration. Racing writers arbitrate
    * through the usual OCC manifest rename. Returns the new
    * version. */
  def setHashBuckets(spark: SparkSession, root: String, key: String,
      n: Int): Int = {
    require(n >= 1, s"hash layout needs >= 1 bucket, got $n")
    occCommit(spark, root, maxRetries = 0) { snap =>
      val kt = snap.schema.fields.find(_.name == key).map(_.dataType)
      require(kt.exists {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      }, s"hash layout needs an integral or string key column (got " +
        s"$key: ${kt.map(_.simpleString).getOrElse("missing")})")
      // an active partition transform composes: the rewrite re-lands
      // every row mono-bucket AND transform-split (writeDataFiles'
      // composed arrangement)
      val meta = snap.meta.copy(layout = Some(n))
      val w = writeDataFiles(spark, root, snap.next, meta, readEntries(spark,
        root, snap.schema, snap.entries, snap.eqdels), key, nBuckets = n)
      commitManifest(spark, root, snap.next, w.entries, Seq.empty,
        snap.cursor, meta, statLines = w.statLines, kmvLines = w.kmvLines)
      snap.next
    }
  }

  /** OPTIMIZE: bin-pack small files into ~`targetRows`-sized rewrites
    * as a new version — the executed form of the q186 compaction plan,
    * against this table format. Files are grouped by cumulative row
    * count in key order (contiguous groups, so a sorted layout stays
    * sorted); groups of one file are carried forward BY REFERENCE
    * (already compact — rewriting them would just burn I/O), and each
    * multi-file group is rewritten as one range-bucketed unit. A pure
    * metadata+rewrite operation: logical content is identical before
    * and after, which is exactly what the q221 gate checksums.
    *
    * CONCURRENCY: a commit that lands between the snapshot read and
    * the manifest publish is resolved by [[rewriteCommit]] — the
    * compaction REBASES onto the new head when its input files are all
    * still live (and no equality delete landed), and aborts with a
    * clean [[ConcurrentCommitException]] otherwise. The racer's update
    * is never lost in either arm.
    * Returns (newVersion, nFilesRewritten, nFilesCarried). */
  def optimize(spark: SparkSession, root: String,
      key: String, targetRows: Long,
      keyRange: Option[(Long, Long)] = None): (Int, Int, Int) =
    optimizeWithHook(spark, root, key, targetRows, () => (), keyRange)

  /** [[optimize]] with a test seam: `beforeCommit` runs after the
    * compacted files are staged and before the manifest publish — the
    * window a concurrent committer races into. Deterministic
    * interleaving for the concurrency spec/gate; production calls the
    * public form (no-op hook). */
  private[graft] def optimizeWithHook(spark: SparkSession, root: String,
      key: String, targetRows: Long, beforeCommit: () => Unit,
      keyRange: Option[(Long, Long)] = None): (Int, Int, Int) = {
    val snap = resolveSnapshot(spark, root)
    val all = snap.entries.sortBy(e => (e.minKey, e.relPath))
    // SCOPED compaction (`keyRange`): only files whose key interval
    // intersects the range participate — the operational shape at
    // 100 TB, where maintenance compacts yesterday's key span, never
    // the table. Everything outside the scope carries untouched.
    val entries = keyRange.fold(all) { case (lo, hi) =>
      all.filter(e => e.maxKey >= lo && e.minKey <= hi)
    }
    // contiguous cumulative-row binning (the q186 rule): a file's group
    // is floor(rowsBefore / targetRows). Binning weighs LIVE rows, so
    // heavily-DV'd files pack together like the small files they
    // logically are.
    var acc = 0L
    val grouped = entries.map { e =>
      val g = acc / math.max(1L, targetRows); acc += e.liveRows; (g, e)
    }.groupBy(_._1).values.map(_.map(_._2)).toSeq
    // a group rewrites if it has ≥2 files (bin-packing) OR any DV to
    // ABSORB — merge-on-read deletes materialize here, returning the
    // file to the clean fast read path and freeing the masked bytes;
    // every other file carries by reference
    val compactGroups = grouped.filter(g => g.size >= 2 || g.exists(_.hasDv))
    val rewrite = compactGroups.flatten
    val (v, _, carried) =
      rewriteCommit(spark, root, snap, rewrite, beforeCommit) { rows =>
        if (rewrite.isEmpty) NoWrite
        else writeDataFiles(spark, root, snap.next, snap.meta, rows, key,
          compactGroups.size)
      }
    (v, rewrite.size, carried)
  }

  /** Version history: (version, nFiles, nRows) from manifests only —
    * no data files touched. Versions whose manifests were vacuumed
    * away are simply absent (history() must stay callable after
    * retention kicks in, not throw on the first swept version).
    * Checkpoint-aware: versions at or below the newest [[checkpoint]]
    * come from its summary (one read), so the per-call cost is
    * O(commits since last checkpoint) manifest reads plus one
    * directory listing — not O(all commits). */
  def history(spark: SparkSession, root: String): Seq[(Int, Int, Long)] = {
    val (f, _) = fs(root, spark)
    val versions = committedVersions(f, root)
    val cp = loadCheckpoint(spark, root)
    val cpV = cp.map(_._1).getOrElse(-1)
    cp.map(_._2).getOrElse(Seq.empty)
      .filter(h => versions.contains(h._1)) ++
      versions.filter(_ > cpV).map { v =>
        val es = loadManifest(spark, root, v)
        (v, es.size, es.map(_.liveRows).sum)
      }
  }

  /** RESTORE — make the head equal a prior version's content as a NEW
    * metadata-only commit (the undo every lakehouse ships): the new
    * manifest references the restored version's data files BY
    * REFERENCE (zero data I/O, instantaneous at any table size), and
    * its header carries the restored version's definition — schema,
    * partition transform and hash layout — so the head reads and prunes
    * exactly as the old version did. History is PRESERVED — the bad
    * versions stay time-travelable until vacuum; the restore is just
    * one more commit, visible in `history()` and the change feed like
    * any other. Requires the target's manifest to still exist
    * (vacuum's live-set invariant then guarantees its data files do
    * too). */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int =
    occCommit(spark, root, maxRetries = 0) { snap =>
      require(toVersion >= 0 && toVersion <= snap.version,
        s"cannot restore to $toVersion: table is at version ${snap.version}")
      val (f, _) = fs(root, spark)
      require(f.exists(manifestPath(root, toVersion)),
        s"cannot restore to $toVersion: manifest gone (vacuumed) — tag " +
          "versions you may need to restore to")
      // the restored version's header comes back with its files: its
      // pending eqdels (the head's would retire keys the restored
      // content still holds), cursor, and whole definition — the files
      // are mono-bucket at the restored era's count and arranged by its
      // transform, so a head that kept the newer layout would
      // bucket-prune point probes to the wrong file ids (silently
      // missing rows) and report a false outputPartitioning to
      // storage-partitioned joins
      val text = manifestText(spark, root, toVersion)
      commitManifest(spark, root, snap.next, parseManifest(text),
        parseEqDels(text), parseCursor(text), parseMeta(text))
      snap.next
    }

  /** Named immutable reference to a version (an Iceberg-style TAG):
    * `_log/tag-<name>.json` holds the version number. Tagged versions
    * survive [[vacuum]] (their manifests and data files stay live
    * regardless of the retention window) and resolve through the SQL
    * surface as `VERSION AS OF '<name>'`. Re-tagging an existing name
    * MOVES it (the file overwrites atomically); `deleteTag` releases
    * the pin, after which the next vacuum may reclaim the version. */
  /** Declare a CHECK constraint (SQL boolean expression over the
    * table's columns): validated against the FULL current snapshot
    * first (one aggregation — declaring a constraint existing data
    * violates is refused, the Delta contract), then every later write
    * enforces it inside its existing stats pass — a violating commit
    * aborts BEFORE the manifest publish with per-constraint counts.
    * Tag-style storage: one `_log/check-<name>.json` per constraint
    * (complete files only; add/drop are metadata ops). */
  def addConstraint(spark: SparkSession, root: String, name: String,
      expression: String): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"constraint name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val p = expr(expression)
    val bad = read(spark, root)
      .agg(sum(when(p.isNull || !p, 1L).otherwise(0L))).collect()(0)
    if (!bad.isNullAt(0) && bad.getLong(0) > 0)
      throw new ConstraintViolationException(
        s"cannot add CHECK constraint '$name' ($expression): " +
          s"${bad.getLong(0)} existing row(s) violate it")
    val (f, _) = fs(root, spark)
    val path = new org.apache.hadoop.fs.Path(root, s"_log/check-$name.json")
    f.delete(path, false)
    writeAtomicMutable(f, path, expression)
  }

  /** Remove a declared CHECK constraint (no-op if absent). */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Unit = {
    val (f, _) = fs(root, spark)
    f.delete(new org.apache.hadoop.fs.Path(root, s"_log/check-$name.json"),
      false)
    ()
  }

  /** All declared CHECK constraints, name → expression. */
  def constraints(spark: SparkSession, root: String): Map[String, String] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) Map.empty
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.startsWith("check-") && s.endsWith(".json") =>
        s.stripPrefix("check-").stripSuffix(".json") ->
          readFully(f, new org.apache.hadoop.fs.Path(log, s))
      }.toMap
  }

  // ---- TABLE PROPERTIES -------------------------------------------

  /** Set a table property (`_log/prop-<name>.json`) — operational
    * knobs (DML routing, maintenance policy), NOT versioned data:
    * last writer wins, snapshots don't capture them, and readers never
    * depend on one for correctness (same storage shape as CHECK
    * constraints — one complete file per property, atomic replace). */
  def setTableProperty(spark: SparkSession, root: String, name: String,
      value: String): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"property name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val (f, _) = fs(root, spark)
    val p = new org.apache.hadoop.fs.Path(root, s"_log/prop-$name.json")
    f.delete(p, false)
    writeAtomicMutable(f, p, value)
  }

  /** Remove a table property (no-op if absent). */
  def unsetTableProperty(spark: SparkSession, root: String,
      name: String): Boolean = {
    val (f, _) = fs(root, spark)
    f.delete(new org.apache.hadoop.fs.Path(root, s"_log/prop-$name.json"),
      false)
  }

  /** All declared table properties, name → value (one `_log` listing). */
  def tableProperties(spark: SparkSession, root: String): Map[String, String] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) Map.empty
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.startsWith("prop-") && s.endsWith(".json") =>
        s.stripPrefix("prop-").stripSuffix(".json") ->
          readFully(f, new org.apache.hadoop.fs.Path(log, s)).trim
      }.toMap
  }

  /** DML routing knobs: `graft.dml.mode` ∈ `cow` | `dv` | `auto`
    * (default `auto`) and `graft.dml.maxDirtyRatio` ∈ [0,1] (default
    * 0.5) — the deletion-vector policy SQL `DELETE FROM` / `MERGE` /
    * `UPDATE` route through. `auto` decides PER FILE by dirty ratio
    * ((newly deleted + already-DV'd rows) / physical rows): a file
    * losing few rows gets a position sidecar (write cost ∝ deleted
    * rows — the 100 TB shape); a file losing more than the ratio
    * rewrites outright (a mostly-dead file's DV would just defer an
    * inevitable rewrite and tax every read's anti-join); a fully-dead
    * file simply drops from the manifest. `cow` forces today's
    * copy-on-write everywhere — REQUIRED for right-to-erasure
    * workflows (q249), where physically removing the bytes is the
    * point and a DV would leave them readable in the data file. */
  private def dmlMode(props: Map[String, String]): (String, Double) = {
    val mode = props.getOrElse("graft.dml.mode", "auto").toLowerCase
    require(Set("cow", "dv", "auto")(mode),
      s"graft.dml.mode must be cow | dv | auto, got '$mode'")
    val ratio = props.get("graft.dml.maxDirtyRatio")
      .map(_.toDouble).getOrElse(0.5)
    require(ratio >= 0.0 && ratio <= 1.0,
      s"graft.dml.maxDirtyRatio must be in [0, 1], got $ratio")
    (mode, ratio)
  }

  /** [[dmlMode]] as the [[keyedMerge]]'s `maxDirty`: None (copy-on-write)
    * under `cow`, 1.0 (no file is ever past it) under `dv`, the ratio
    * under `auto`. */
  private def mergeDirty(props: Map[String, String]): Option[Double] = {
    val (mode, ratio) = dmlMode(props)
    if (mode == "cow") None else Some(if (mode == "dv") 1.0 else ratio)
  }

  /** Absorb every DELETION VECTOR back into clean data files: ONLY
    * the DV'd files rewrite (masked read → fresh files, a scoped
    * OPTIMIZE over exactly the merge-on-read debt), everything clean
    * carries by reference. Logical content is unchanged; the payoffs
    * compound — reads lose the anti-join tax, columnar scans return
    * to zero-copy, and metadata answers (exact aggregates, NDV
    * exactness) sharpen back up. A racing commit is resolved like
    * OPTIMIZE's ([[rewriteCommit]]). Returns (version, filesAbsorbed,
    * filesCarried); a DV-free table no-ops at the current version. */
  def absorbDvs(spark: SparkSession, root: String, key: String)
    : (Int, Int, Int) = {
    val snap = resolveSnapshot(spark, root)
    val dvd = snap.entries.filter(_.hasDv)
    if (dvd.isEmpty) return (snap.version, 0, snap.entries.size)
    val (v, _, carried) = rewriteCommit(spark, root, snap, dvd)(
      writeDataFiles(spark, root, snap.next, snap.meta, _, key, dvd.size))
    (v, dvd.size, carried)
  }

  /** AUTOMATED DV ABSORPTION — the table analog of the broker log's
    * `compactIfDirty`: a PURE-METADATA probe (one manifest read —
    * free at any table size) fires [[absorbDvs]] only when the
    * table-wide dirty ratio (DV'd rows / physical rows over the live
    * set) exceeds `graft.dv.maxTableDirtyRatio` (table property;
    * `ratioOverride` wins when given; default 0.2). Under the default
    * merge-on-read DML policy every MERGE/DELETE accrues read-side
    * debt; this is the loop-closer a maintenance schedule calls so
    * the debt is bounded without anyone remembering to OPTIMIZE.
    * Returns None when below threshold (free no-op), Some(absorb
    * result) when it fired. */
  /** AUTO-COMPACTION probe — the small-file analog of
    * [[absorbDvsIfDirty]]: one manifest listing decides, and the
    * table compacts only when fragmentation crossed the line. A file
    * is "small" below `targetRows / 2` live rows (half the compaction
    * target — files the binning would merge anyway); the probe fires
    * a full [[optimize]] when the SMALL-FILE share of the file count
    * exceeds `graft.compact.maxSmallFileRatio` (property, default
    * 0.5, overridable per call) AND at least two small files exist
    * (one can't compact with itself). Below the line it is a free
    * no-op — safe to run after every streaming batch or on a
    * maintenance cron, which is the point: minute-trigger ingest
    * produces a file per trigger, and THIS is the closed loop that
    * keeps the file count O(data / target) instead of O(triggers). */
  def optimizeIfFragmented(spark: SparkSession, root: String, key: String,
      targetRows: Long, ratioOverride: Option[Double] = None)
    : Option[(Int, Int, Int)] = {
    val ratio = ratioOverride.orElse(
      tableProperties(spark, root).get("graft.compact.maxSmallFileRatio")
        .map(_.toDouble)).getOrElse(0.5)
    require(ratio > 0.0 && ratio <= 1.0,
      s"graft.compact.maxSmallFileRatio must be in (0, 1], got $ratio")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val entries = loadManifest(spark, root, latestVersion(spark, root))
    if (entries.isEmpty) return None
    val small = entries.count(_.liveRows < targetRows / 2)
    if (small < 2 || small.toDouble / entries.size <= ratio) None
    else Some(optimize(spark, root, key, targetRows))
  }

  def absorbDvsIfDirty(spark: SparkSession, root: String, key: String,
      ratioOverride: Option[Double] = None): Option[(Int, Int, Int)] = {
    val ratio = ratioOverride.orElse(
      tableProperties(spark, root).get("graft.dv.maxTableDirtyRatio")
        .map(_.toDouble)).getOrElse(0.2)
    require(ratio > 0.0 && ratio <= 1.0,
      s"graft.dv.maxTableDirtyRatio must be in (0, 1], got $ratio")
    val entries = loadManifest(spark, root, latestVersion(spark, root))
    val phys = entries.map(_.nRows).sum
    val dirty = entries.map(_.dvRows).sum
    if (phys == 0L || dirty.toDouble / phys <= ratio) None
    else Some(absorbDvs(spark, root, key))
  }

  def tag(spark: SparkSession, root: String, name: String,
          version: Int): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"tag name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val (f, _) = fs(root, spark)
    require(f.exists(manifestPath(root, version)),
      s"cannot tag version $version: no manifest (never committed, or " +
        "already vacuumed)")
    // re-tag = delete + create (writeAtomic is create-if-absent, the
    // commit-point contract). A concurrent reader can briefly observe
    // no tag — acceptable for a metadata ref; each state it CAN see is
    // a complete, valid file.
    val p = new org.apache.hadoop.fs.Path(root, s"_log/tag-$name.json")
    f.delete(p, false)
    writeAtomicMutable(f, p, version.toString)
  }

  /** All tags as name → version. Metadata-sized (one `_log` listing). */
  def tags(spark: SparkSession, root: String): Map[String, Int] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) Map.empty
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.startsWith("tag-") && s.endsWith(".json") =>
        val name = s.stripPrefix("tag-").stripSuffix(".json")
        name -> readFully(f, new org.apache.hadoop.fs.Path(log, s)).trim.toInt
      }.toMap
  }

  def deleteTag(spark: SparkSession, root: String, name: String): Boolean = {
    val (f, _) = fs(root, spark)
    f.delete(new org.apache.hadoop.fs.Path(root, s"_log/tag-$name.json"), false)
  }

  /** Resolve a version reference: an integer string, or a tag name. */
  def resolveRef(spark: SparkSession, root: String, ref: String): Option[Int] =
    ref.toIntOption.orElse(tags(spark, root).get(ref))

  // ---- BRANCHES (writable refs + fast-forward publish) -------------
  //
  // A branch generalizes the two halves the format already had — tags
  // (immutable refs, q272) and write-audit-publish (one staged commit,
  // q242) — into a WRITABLE ref: commits land on the branch's own
  // manifest lineage (`_log/branch-<name>/vNNNNN.manifest`, data files
  // under the shared `data/` dir — zero copying), completely invisible
  // on main; when audits pass, [[fastForward]] publishes the branch's
  // commits onto main VERSION FOR VERSION (history preserved, each an
  // atomic create-if-absent manifest rename). The Iceberg
  // branch-audit-publish workflow on the graft log layout. The branch
  // schema is FROZEN at the base version; fast-forward requires main
  // still AT the base (the definition of fast-forwardable — a main
  // that advanced needs a rebase or a MERGE, not a silent overwrite).

  private def branchMetaPath(root: String, name: String) =
    new org.apache.hadoop.fs.Path(root, s"_log/branch-$name.json")

  private def branchDir(root: String, name: String) =
    new org.apache.hadoop.fs.Path(root, s"_log/branch-$name")

  private def branchManifestPath(root: String, name: String, bv: Int) =
    new org.apache.hadoop.fs.Path(branchDir(root, name),
      f"v$bv%05d.manifest")

  /** Create branch `name` at the current head; returns the BASE
    * version the branch forks from. Create-if-absent: a duplicate
    * branch name refuses. */
  def createBranch(spark: SparkSession, root: String, name: String): Int = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"branch name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val base = latestVersion(spark, root)
    require(base >= 0, s"no table at $root")
    // pending equality deletes don't fork: branch reads resolve the
    // BASE manifest's header, but every later branch lineage rule
    // (publish, merge, vacuum pinning) assumes branch files need no
    // main-log key sets — resolve first, fork clean
    require(!hasLiveEqDels(spark, root, base),
      s"cannot create branch '$name': table has pending equality " +
        "deletes — run resolveEqDels first")
    val (f, _) = fs(root, spark)
    writeAtomic(f, branchMetaPath(root, name), s"""{"base":$base}""")
    base
  }

  /** The main version branch `name` forked from. */
  def branchBase(spark: SparkSession, root: String, name: String): Int = {
    val (f, _) = fs(root, spark)
    val p = branchMetaPath(root, name)
    require(f.exists(p), s"no branch '$name' at $root")
    val txt = readFully(f, p)
    """"base"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      .getOrElse(sys.error(s"malformed branch meta for '$name': $txt"))
  }

  /** All branches at `root` (one `_log` listing). */
  def listBranches(spark: SparkSession, root: String): Seq[String] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.startsWith("branch-") && s.endsWith(".json") =>
        s.stripPrefix("branch-").stripSuffix(".json")
      }.toSeq.sorted
  }

  private def branchVersions(f: org.apache.hadoop.fs.FileSystem,
      root: String, name: String): Seq[Int] = {
    val dir = branchDir(root, name)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d{5}\\.manifest") =>
        s.substring(1, 6).toInt }.toSeq.sorted
  }

  /** Branch head version in BRANCH numbering: 0 is the base snapshot
    * itself, k is the branch's k-th commit. */
  def branchHeadVersion(spark: SparkSession, root: String,
      name: String): Int = {
    val (f, _) = fs(root, spark)
    branchVersions(f, root, name).lastOption.getOrElse(0)
  }

  private def branchEntries(spark: SparkSession, root: String,
      name: String, bv: Int): Seq[FileEntry] = {
    val (f, _) = fs(root, spark)
    if (bv == 0) loadManifest(spark, root, branchBase(spark, root, name))
    else parseManifest(readFully(f, branchManifestPath(root, name, bv)))
  }

  /** Read branch `name` at its head, or time-travel it at a branch
    * version (0 = the base snapshot). Same masked/pruned read path as
    * main ([[readEntries]]). */
  def readBranch(spark: SparkSession, root: String, name: String,
      branchVersion: Option[Int] = None): DataFrame = {
    val bv = branchVersion.getOrElse(branchHeadVersion(spark, root, name))
    val schema = tableSchema(spark, root, branchBase(spark, root, name))
    readEntries(spark, root, schema, branchEntries(spark, root, name, bv),
      if (bv == 0) pendingEqDels(spark, root, branchBase(spark, root, name))
      else Seq.empty)
  }

  /** Keyed-MERGE upsert onto branch `name` — [[upsert]]'s copy-on-write
    * [[keyedMerge]] over the branch head, committed to the BRANCH
    * lineage: main readers see nothing, main writers never collide
    * (separate manifest namespaces), and the written files sit in the
    * shared `data/` dir pinned by the branch against [[vacuum]] until
    * published or the branch is deleted. Racing writers to the SAME
    * branch collide on the branch manifest rename
    * ([[ConcurrentCommitException]]) exactly like main commits.
    * Returns the new branch version. */
  def upsertBranch(spark: SparkSession, root: String, name: String,
      batch: DataFrame, key: String, nBuckets: Int = 8): Int = {
    val base = branchBase(spark, root, name)
    val bvPrev = branchHeadVersion(spark, root, name)
    // the branch head as a snapshot of version `base`, so its files are
    // named after base+1. Its definition is FROZEN at the base:
    // resolving it at main's head would pick up a rebucket / re-spec
    // that landed on MAIN after the fork, making branch fresh files
    // bucket mod-NEW while branch reads prune with the base era
    // (silently missed rows on point lookups). Branches fork without
    // live eqdels.
    val snap = TableSnapshot(base, branchEntries(spark, root, name, bvPrev),
      tableMeta(spark, root, base), keyHashMode(spark, root), Seq.empty,
      None, Map.empty)
    val m = keyedMerge(spark, root, snap, batch, key, None, None, nBuckets)
    fs(root, spark)._1.mkdirs(branchDir(root, name))
    // the main-log commit protocol, published into the branch's lineage
    // directory: sidecars stay branch-local, instants monotone within
    // the branch
    commitManifest(spark, root, bvPrev + 1, m.kept ++ m.written.entries,
      Seq.empty, None, snap.meta, statLines = m.written.statLines,
      kmvLines = m.written.kmvLines, branch = Some(name))
    bvPrev + 1
  }

  /** FAST-FORWARD PUBLISH: audit the branch head, then replay the
    * branch's commits onto main VERSION FOR VERSION (base+1 … base+k,
    * each an atomic create-if-absent manifest rename; branch-local
    * stat/digest sidecars re-pin at the published numbers). Requires
    * main still AT the branch base — a main that advanced refuses (the
    * fast-forwardable definition; a racing main commit surfaces as the
    * same refusal through the rename). A crash mid-publish leaves main
    * at an intermediate branch snapshot — every prefix is a consistent
    * snapshot by construction — and a re-run RESUMES idempotently
    * (already-published versions with identical content are skipped).
    * Returns Left(violations) if the audit rejects (nothing publishes),
    * Right((mainVersionAfter, nPublished)) otherwise. */
  def fastForward(spark: SparkSession, root: String, name: String,
      audits: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty)
    : Either[Map[String, Long], (Int, Int)] = {
    val base = branchBase(spark, root, name)
    val (f, _) = fs(root, spark)
    val bvs = branchVersions(f, root, name)
    if (bvs.isEmpty) return Right((latestVersion(spark, root), 0))
    require(bvs == (1 to bvs.max), s"branch '$name' lineage has gaps: $bvs")
    if (audits.nonEmpty) {
      val violations = auditViolations(readBranch(spark, root, name), audits)
      if (violations.nonEmpty) return Left(violations)
    }
    val mainLatest = latestVersion(spark, root)
    require(mainLatest >= base && mainLatest <= base + bvs.max,
      s"not fast-forwardable: main advanced past branch base $base — " +
        "rebase the branch (or publish through a MERGE) instead")
    // a main prefix above the base is only acceptable if it IS this
    // branch's prefix (a crashed or re-run earlier publish); any
    // foreign commit refuses the same way
    ((base + 1) to mainLatest).foreach { v =>
      require(parseManifest(readFully(f, manifestPath(root, v))) ==
        branchEntries(spark, root, name, v - base),
        s"not fast-forwardable: main advanced past branch base $base " +
          "with commits that are not this branch's — rebase the branch " +
          "(or publish through a MERGE) instead")
    }
    // branches fork without live eqdels; a stale pending list of the
    // base rides every published version, as any commit's would, and
    // so do the base's cursor and definition
    val baseText = readHeader(f, manifestPath(root, base))
    bvs.foreach { bv =>
      val v = base + bv
      val entries = branchEntries(spark, root, name, bv)
      if (f.exists(manifestPath(root, v))) {
        // already published (the verified prefix, or a crashed earlier
        // publish): skip — its sidecars landed with it
        if (parseManifest(readFully(f, manifestPath(root, v))) != entries)
          throw new ConcurrentCommitException(
            s"fast-forward of '$name' raced a foreign commit at $v")
      } else {
        // the branch's stat/digest lines re-pin on main THROUGH the
        // main commit (token-staged with it); branch sidecars resolve
        // by the branch manifest's own `#sidecar` token
        def branchLines(kind: String): Seq[String] = {
          val btok = sidecarTokenOf(f, branchManifestPath(root, name, bv))
          val p = new org.apache.hadoop.fs.Path(branchDir(root, name),
            f"$kind-v$bv%05d-$btok.tsv")
          if (!f.exists(p)) Seq.empty
          else readFully(f, p).linesIterator.filter(_.nonEmpty).toSeq
        }
        try commitManifest(spark, root, v, entries, parseEqDels(baseText),
          parseCursor(baseText), parseMeta(baseText),
          statLines = branchLines("colstats"), kmvLines = branchLines("kmv"))
        catch {
          case e: ConcurrentCommitException =>
            // a racer landed between our exists-probe and the rename:
            // acceptable only if it published THIS branch version
            if (parseManifest(readFully(f, manifestPath(root, v)))
                != entries)
              throw e
        }
      }
    }
    Right((base + bvs.max, bvs.size))
  }

  /** Row-level NET DELTA between two snapshots of the same schema era,
    * as (changed-or-new rows at `to`, deleted keys) — FILE-PRUNED:
    * files shared by both manifests (same path AND same DV) hold
    * identical rows, contribute no delta, and are never read, so the
    * diff of a 100 TB table costs only the files the two lineages
    * actually diverged on. Both sides read DV-masked ([[readEntries]]).
    * A key is in at most one live file per snapshot (the keyed-table
    * invariant), so a row that merely MOVED files unchanged joins
    * equal on every column and drops out. */
  private def snapshotDelta(spark: SparkSession, root: String,
      schema: StructType, key: String,
      from: Seq[FileEntry], to: Seq[FileEntry],
      fromEq: Seq[EqDel] = Seq.empty, toEq: Seq[EqDel] = Seq.empty)
    : (DataFrame, DataFrame) = {
    def fp(e: FileEntry, eqs: Seq[EqDel]): Set[Int] =
      eqDelsApplying(e, eqs).map(_.version).toSet
    val fromSet = from.map(e => (e.relPath, e.dvPath, fp(e, fromEq))).toSet
    val toSet = to.map(e => (e.relPath, e.dvPath, fp(e, toEq))).toSet
    val oldOnly = from.filterNot(e => toSet((e.relPath, e.dvPath, fp(e, fromEq))))
    val newOnly = to.filterNot(e => fromSet((e.relPath, e.dvPath, fp(e, toEq))))
    val cols = schema.fieldNames
    val o = readEntries(spark, root, schema, oldOnly, fromEq).as("o")
    val n = readEntries(spark, root, schema, newOnly, toEq).as("n")
    val j = o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
    val changed = cols.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    val ups = j.filter(col(s"n.$key").isNotNull && changed)
      .select(cols.map(c => col(s"n.$c").as(c)).toSeq: _*)
    val dels = j.filter(col(s"n.$key").isNull)
      .select(col(s"o.$key").as(key))
    (ups, dels)
  }

  /** MERGE PUBLISH: land branch `name`'s net changes (base → head) on
    * a main that has ADVANCED past the branch base — the workflow
    * [[fastForward]] correctly refuses. One keyed-MERGE commit replays
    * the branch's row-level delta (changed/new rows as verbatim
    * replacements, branch-deleted keys as deletes — the delete-wins
    * rule of the q239 replication pattern) onto main's head through
    * [[applyCdcBatch]]'s existing machinery.
    *
    * CONFLICT RULE (Iceberg cherry-pick semantics, key-level): if any
    * key the branch changed was ALSO changed by main since the base,
    * the merge refuses with the conflicting-key count — a silent
    * last-writer-wins would lose one side's update. The check (and the
    * deltas) are file-pruned snapshot diffs: O(diverged files), never
    * a table scan. Each commit attempt checks the schema, derives
    * main's delta and counts conflicts against ONE snapshot, and
    * publishes over that same snapshot: a main commit landing after
    * the snapshot makes the publish lose the race, and the retry
    * re-checks against the new head ([[occCommit]]) — no conflict
    * committed during the check can slip through. Schema divergence
    * (DDL on main since the base) refuses — the branch writes base-era
    * columns.
    *
    * Returns Left(conflictingKeyCount) on refusal,
    * Right((newMainVersion, changedKeys)) on publish. The clean
    * fast-forwardable case still prefers [[fastForward]] (pure
    * metadata, history preserved); merge collapses the branch into
    * one commit. */
  def mergeBranch(spark: SparkSession, root: String, name: String,
      nBuckets: Int = 8,
      strategy: String = "refuse"): Either[Long, (Int, Long)] = {
    // `overwrite`: the deliberate escape hatch for a CONFLICTED merge
    // — branch wins on every key it changed (Iceberg cherry-pick
    // semantics), main's updates to those keys are knowingly
    // replaced, main's changes to OTHER keys survive untouched. The
    // default stays refusal: a silent last-writer-wins would lose one
    // side's update without anyone choosing that.
    require(Set("refuse", "overwrite")(strategy),
      s"mergeBranch strategy must be 'refuse' or 'overwrite', got " +
        s"'$strategy'")
    val base = branchBase(spark, root, name)
    val key = keyColumn(spark, root).getOrElse(
      sys.error(s"mergeBranch needs a keyed table at $root"))
    val bv = branchHeadVersion(spark, root, name)
    val baseEntries = loadManifest(spark, root, base)
    val headEntries = branchEntries(spark, root, name, bv)
    val schema = tableSchema(spark, root, base)
    val cols = schema.fieldNames
    val op = "__graft_merge_op"
    // the branch's net delta is fixed; main's is re-derived per attempt
    val (bUps, bDel) = snapshotDelta(spark, root, schema, key,
      baseEntries, headEntries,
      pendingEqDels(spark, root, base),
      if (bv == 0) pendingEqDels(spark, root, base) else Seq.empty)
    val batch = bUps.withColumn(op, lit("replace"))
      .unionByName(bDel.select(cols.map(c =>
        (if (c == key) col(key) else lit(null).cast(schema(c).dataType))
          .as(c)).toSeq: _*)
        .withColumn(op, lit("delete")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // conflict sets compare in the STAT domain (hashes for string
      // keys): a collision can only manufacture a FALSE conflict —
      // conservative refusal, never a silently merged lost update
      val kStat = keyStatExpr(col(key), keyHashMode(spark, root))
      val branchKeys = batch.select(kStat.as("__k")).distinct()
      val nChanged = branchKeys.count()
      if (nChanged == 0L) Right((latestVersion(spark, root), 0L))
      else occCommit(spark, root, CommitRetries) { snap =>
        require(snap.schema == schema,
          s"cannot MERGE branch '$name': main's schema changed since " +
            s"base $base — recreate the branch from the current head")
        // main's own post-base changes up to THIS snapshot: the conflict
        // set the apply below publishes over
        val (mUps, mDel) = snapshotDelta(spark, root, schema, key,
          baseEntries, snap.entries, pendingEqDels(spark, root, base),
          snap.eqdels)
        val mainKeys = mUps.select(kStat.as("__k"))
          .unionByName(mDel.select(kStat.as("__k")))
          .distinct()
        val conflicts = branchKeys.join(mainKeys, Seq("__k"), "inner").count()
        if (conflicts > 0 && strategy != "overwrite") Left(conflicts)
        else Right((applyCdcAttempt(spark, root, snap, batch, key, op,
          nBuckets)._1, nChanged))
      }
    } finally batch.unpersist()
  }

  /** Drop branch `name`: its meta, manifests, and branch-local
    * sidecars. Unpublished branch data files become ordinary
    * unreferenced orphans that [[vacuum]] sweeps. */
  def deleteBranch(spark: SparkSession, root: String,
      name: String): Boolean = {
    val (f, _) = fs(root, spark)
    val dir = branchDir(root, name)
    if (f.exists(dir)) f.delete(dir, true)
    f.delete(branchMetaPath(root, name), false)
  }

  /** Drop manifests older than the last `retainVersions` and every
    * data file no retained manifest references (including orphans
    * from failed commits). Time travel to vacuumed versions is gone —
    * the retention contract every table format documents. Exception:
    * TAGGED versions ([[tag]]) are pinned — their manifests and data
    * files stay live past the retention window until the tag is
    * deleted.
    *
    * Sidecar lifecycle (so a long-lived table's `_log/` stays bounded):
    * vacuum first writes a [[checkpoint]] at the latest version — which
    * preserves the history summary and the colstats of every LIVE file
    * — then sweeps stats sidecars and superseded checkpoints below the
    * retention horizon (a version's definition lives in its manifest
    * header, so a retained or pinned version needs nothing else). 2-D
    * stats for files that die between a retained old version and
    * latest degrade to "no stats → never skip" on time-travel reads —
    * pruning loss only, never correctness. */
  /** Time-based retention: sweep history older than `retainMillis`
    * before `now` — resolved through the DURABLE commit instants (the
    * manifest `#commit-ts` headers, so a restore that rewrote mtimes
    * retains exactly the same horizon). The latest version is always
    * kept whatever its age; tag pins apply as in the version form. */
  def vacuumOlderThan(spark: SparkSession, root: String,
      retainMillis: Long, nowMillis: Long = System.currentTimeMillis())
    : Int = {
    require(retainMillis >= 0, "retention must be non-negative")
    val horizon = nowMillis - retainMillis
    val ts = commitTimestamps(spark, root)
    require(ts.nonEmpty, s"no table at $root")
    // keep every version committed at/after the horizon, and always
    // the latest
    val latest = ts.map(_._1).max
    val keepFrom = ts.filter(_._2 >= horizon).map(_._1)
      .minOption.getOrElse(latest)
    vacuum(spark, root, retainVersions = latest - keepFrom + 1)
  }

  def vacuum(spark: SparkSession, root: String, retainVersions: Int): Int = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val (f, _) = fs(root, spark)
    val latest = latestVersion(spark, root)
    if (latest >= 0) checkpoint(spark, root)
    val keepFrom = math.max(0, latest - retainVersions + 1)
    // tagged versions are pinned: their files and manifests stay live.
    // BRANCH BASES pin the same way (a branch read resolves its base
    // manifest and base-era schema), and every branch manifest's refs
    // join the live set below — an unpublished branch must never lose
    // files to a main-side vacuum.
    val branches = listBranches(spark, root)
    val pinned = (tags(spark, root).values.toSet ++
      branches.map(b => branchBase(spark, root, b)))
      .filter(v => v < keepFrom && f.exists(manifestPath(root, v)))
    val branchLive = branches.flatMap { b =>
      branchVersions(f, root, b).flatMap { bv =>
        parseManifest(readFully(f, branchManifestPath(root, b, bv)))
          .flatMap(e =>
            if (e.hasDv) Seq(e.relPath, e.dvPath) else Seq(e.relPath))
      }
    }
    // STAGED cross-table-txn versions sit ABOVE the committed latest:
    // their data files must survive a vacuum that runs while the
    // transaction is in flight (the marker may land a moment later),
    // so they pin exactly like tags until committed or aborted
    // DV sidecars are live exactly like the data files referencing
    // them: a retained manifest's (relPath, dvPath) pairs both pin
    def refs(e: FileEntry): Seq[String] =
      if (e.hasDv) Seq(e.relPath, e.dvPath) else Seq(e.relPath)
    val stagedVs = listManifestVersions(f, root).filter(_ > latest)
    val stagedLive = stagedVs
      .flatMap(v => parseManifest(readFully(f, manifestPath(root, v)))
        .flatMap(refs))
    val live = (((keepFrom to latest) ++ pinned).distinct
      .flatMap(v => loadManifest(spark, root, v).flatMap(refs)) ++
      stagedLive ++ branchLive).toSet
    // EQDEL KEY DIRECTORIES pin by manifest-header reference exactly
    // like data files — a retained (or pinned, or staged) version
    // whose header lists an eqdel keeps that key set readable; a
    // resolved eqdel's directory outlives its last retaining
    // manifest and sweeps here
    val liveEqDirs = ((keepFrom to latest) ++ pinned ++ stagedVs)
      .distinct.flatMap(v => pendingEqDels(spark, root, v))
      .map(_.relDir).toSet
    var removed = 0
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, true)
      val doomed = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
      val dataUri = f.makeQualified(dataDir).toUri
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val rel = "data/" + dataUri.relativize(st.getPath.toUri).getPath
          // a bloom sidecar is live iff its data file is live
          val owner =
            if (rel.endsWith(".bloom")) rel.stripSuffix(".bloom") else rel
          val inLiveEqDir = liveEqDirs.exists(d => rel.startsWith(d + "/"))
          if (!live(owner) && !inLiveEqDir) doomed += st.getPath
        }
      }
      doomed.foreach { p => f.delete(p, false); removed += 1 }
      // dead EQDEL KEY DIRECTORIES go whole (their files just swept
      // above; the empty dir would otherwise linger forever)
      f.listStatus(dataDir).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("eqdel-") &&
            !liveEqDirs("data/" + st.getPath.getName))
          f.delete(st.getPath, true)
      }
    }
    // token-verified ORPHAN SWEEP: a stats sidecar at a committed
    // version whose token is NOT the one that version's manifest header
    // names is a race-losing or crashed attempt's leftover — never
    // read for a live file, reaped here. Versions with no manifest yet
    // are left alone (an in-flight commit may be staging there right
    // now).
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (f.exists(log)) {
      val present = listManifestVersions(f, root).toSet
      val names0 = f.listStatus(log).map(_.getPath.getName).toSeq
      val wantCache = scala.collection.mutable.Map[Int, String]()
      Seq("colstats", "kmv").foreach { kind =>
        sidecarVersions(names0, kind, "tsv").foreach { case (sv, tok) =>
          if (present(sv) && tok != wantCache.getOrElseUpdate(sv,
              sidecarTokenOf(f, manifestPath(root, sv))))
            f.delete(new org.apache.hadoop.fs.Path(log,
              f"$kind%s-v$sv%05d-$tok%s.tsv"), false)
        }
      }
    }
    (0 until keepFrom).filterNot(pinned).foreach { v =>
      val m = manifestPath(root, v)
      if (f.exists(m)) f.delete(m, false)
    }
    // sidecar sweep below the horizon: colstats and digests are
    // preserved (for live files) inside the checkpoint written above;
    // superseded checkpoints go entirely
    if (f.exists(log)) {
      val names = f.listStatus(log).map(_.getPath.getName).toSeq
      sidecarVersions(names, "colstats", "tsv")
        .filter(_._1 < keepFrom)
        .foreach { case (v, tok) =>
          f.delete(colStatsPath(root, v, tok), false) }
      // NDV digest sidecars sweep on the same horizon — live files'
      // digests were folded into the checkpoint written above
      sidecarVersions(names, "kmv", "tsv")
        .filter(_._1 < keepFrom)
        .foreach { case (v, tok) =>
          f.delete(kmvPath(root, v, tok), false) }
      val cpVs = names.collect {
        case s if s.matches("checkpoint-v\\d{5}\\.tsv") =>
          (s, s.substring(12, 17).toInt) }
      val newestCp = cpVs.map(_._2).foldLeft(-1)(math.max)
      cpVs.filter(_._2 < newestCp).foreach { case (s, _) =>
        f.delete(new org.apache.hadoop.fs.Path(log, s), false) }
      // stranded staging files from crashed commits (`.tmp-*`, an
      // unpublished writeAtomic payload) are invisible to every reader
      // — vacuum is their only reaper
      names.filter(_.startsWith(".tmp-"))
        .foreach(s => f.delete(new org.apache.hadoop.fs.Path(log, s), false))
    }
    removed
  }

  /** Schema evolution: ADD COLUMNS as a METADATA-ONLY commit. The new
    * version carries every data file of the previous one by reference
    * (zero data I/O — the property that makes adding a column to a
    * 100 TB table instantaneous) and records the new schema in its
    * manifest header; snapshot reads at or after this version see the
    * new columns (NULL-filled for rows written before — the
    * pinned-schema parquet read fills them), while time travel BELOW it
    * still returns the old column set. Added fields must be nullable
    * (there is no backfill).
    * Returns the new version. */
  def evolveAddColumns(spark: SparkSession, root: String,
      added: Seq[org.apache.spark.sql.types.StructField]): Int =
    occCommit(spark, root, maxRetries = 0) { snap =>
      val schema = snap.schema
      require(added.nonEmpty && added.forall(_.nullable),
        "added columns must be nullable")
      require(added.forall(a => !schema.fieldNames.contains(a.name)),
        "added column name collides with an existing column")
      // PHYSICAL-NAME hygiene: a new column whose name matches a DROPPED
      // column's physical name (or a surviving physical name behind a
      // rename) must get a FRESH physical name — otherwise reading old
      // files under the new schema would resurrect pre-drop bytes (or
      // duplicate a renamed column's storage). Delta's column-mapping
      // id/physical-name rule, name-mode form.
      val taken = schema.fields.map(physName).toSet ++
        droppedPhysicals(fs(root, spark)._1, root)
      val mapped = added.map { a =>
        if (!taken(a.name)) a
        else a.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(a.metadata)
          .putString(PhysicalKey,
            s"${a.name}__${java.util.UUID.randomUUID().toString.take(8)}")
          .build())
      }
      // the schema rides this attempt's manifest header — a race-losing
      // DDL writer's schema never publishes anywhere
      commitManifest(spark, root, snap.next, snap.entries, snap.eqdels,
        snap.cursor,
        snap.meta.copy(schema = StructType(schema.fields ++ mapped)))
      snap.next
    }

  /** Physical names of every column ever dropped — the tombstone list
    * that keeps a later ADD of the same name from resurrecting old
    * bytes: the union of every `_log/dropped-<token>.json` (one
    * WRITE-ONCE file per DROP COLUMN, or per clone for the source's
    * set; newline-separated physical names). Per-drop files make the
    * ledger append-only with no read-modify-write: two concurrent DROPs
    * each create their own uniquely-named tombstone, so neither can lose
    * the other's entry whatever order their manifest commits land in.
    * A tombstone whose drop commit lost the version race is harmless
    * over-approximation (a later ADD of that name just gets a
    * needlessly-fresh physical name). */
  private def droppedPhysicals(f: org.apache.hadoop.fs.FileSystem,
      root: String): Set[String] = {
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) return Set.empty
    f.listStatus(log).map(_.getPath)
      .filter(p => p.getName.startsWith("dropped-") &&
        p.getName.endsWith(".json"))
      .flatMap(p => readFully(f, p).linesIterator.filter(_.nonEmpty))
      .toSet
  }

  /** Refuse RENAME/DROP of a column the table's own metadata machinery
    * references by name — the key (file-skipping stats), the bloom
    * column, the partition transform, and any CHECK constraint
    * expression (Delta refuses constraint-referenced renames the same
    * way; textually rewriting arbitrary SQL would be guesswork). The
    * constraint check is conservative: a word-boundary match refuses,
    * never silently proceeds. */
  private def refuseMappedUse(spark: SparkSession, root: String,
      spec: Option[PartitionTransform], column: String, op: String): Unit = {
    require(!keyColumn(spark, root).contains(column),
      s"cannot $op '$column': it is the table's key column")
    require(!bloomColumn(spark, root).contains(column),
      s"cannot $op '$column': it is the declared bloom column")
    require(!spec.exists(t => transformColumn(t) == column),
      s"cannot $op '$column': the active partition transform uses it")
    val rx = ("(?s).*\\b" + java.util.regex.Pattern.quote(column) + "\\b.*").r
    constraints(spark, root).find(c => rx.matches(c._2)).foreach { c =>
      throw new IllegalArgumentException(
        s"cannot $op '$column': CHECK constraint '${c._1}' (${c._2}) " +
          "references it — drop the constraint first")
    }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's name-mode column
    * mapping): the logical name changes in the versioned schema, the
    * PHYSICAL name — what every parquet file stores — is frozen at the
    * column's birth, so zero data files are touched at any table size
    * and TIME TRAVEL across the rename still resolves (a v_old read
    * surfaces the old logical name, a head read the new one, both over
    * the same physical bytes). Columns the table references by name
    * (key, bloom, partition transform, CHECK constraints) refuse — see
    * [[refuseMappedUse]]. Returns the new version. */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Int =
    occCommit(spark, root, maxRetries = 0) { snap =>
      val schema = snap.schema
      require(schema.fieldNames.contains(oldName), s"no such column: $oldName")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists")
      refuseMappedUse(spark, root, snap.meta.spec, oldName, "rename")
      val renamed = StructType(schema.fields.map { fld =>
        if (fld.name != oldName) fld
        else fld.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(fld.metadata)
            .putString(PhysicalKey, physName(fld)) // freeze the birth name
            .build())
      })
      commitManifest(spark, root, snap.next, snap.entries, snap.eqdels,
        snap.cursor, snap.meta.copy(schema = renamed))
      snap.next
    }

  /** DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    * schema (reads at or after this version never see it; time travel
    * below still does), old files keep the physical column as dead
    * bytes until natural rewrite, and the physical name is TOMBSTONED
    * so a later ADD of the same logical name maps to a fresh physical
    * name — re-added columns surface NULLs, never resurrected
    * pre-drop values. Referenced columns refuse exactly like rename.
    * Returns the new version. */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
    dropColumnWithHook(spark, root, name, () => ())

  /** [[dropColumn]] with a test seam: `beforePublish` runs after this
    * drop's tombstone is written and before its manifest rename — the
    * window a concurrent committer of the same version races into (the
    * [[optimizeWithHook]] idiom). The concurrency spec drives a full
    * racing DROP inside the hook to prove a loser's schema never
    * publishes. */
  private[graft] def dropColumnWithHook(spark: SparkSession, root: String,
      name: String, beforePublish: () => Unit): Int =
    occCommit(spark, root, maxRetries = 0) { snap =>
      val schema = snap.schema
      require(schema.fieldNames.contains(name), s"no such column: $name")
      require(schema.fields.length > 1, "cannot drop the only column")
      refuseMappedUse(spark, root, snap.meta.spec, name, "drop")
      // tombstone BEFORE the commit: a crash in between leaves a stray
      // tombstone (a later re-add just gets a needlessly-fresh physical
      // name — safe), where the reverse order could resurrect bytes.
      // One WRITE-ONCE file per drop (no read-modify-write): concurrent
      // DROPs can never lose each other's tombstones — see
      // [[droppedPhysicals]].
      writeAtomic(fs(root, spark)._1, new org.apache.hadoop.fs.Path(root,
        s"_log/dropped-${newToken()}.json"),
        physName(schema.fields.find(_.name == name).get) + "\n")
      commitManifest(spark, root, snap.next, snap.entries, snap.eqdels,
        snap.cursor,
        snap.meta.copy(schema = StructType(schema.fields.filterNot(
          _.name == name))), beforePublish = beforePublish)
      snap.next
    }

  /** Point-lookup snapshot read with BLOOM-FILTER file skipping: only
    * data files whose `.bloom` sidecar MAY contain `value` in the
    * declared bloom column are opened; an exact residual filter inside
    * the survivors removes false positives, so the result is identical
    * to `read(...).filter(col === value)` by construction. This is the
    * skipping axis min/max range stats cannot serve — a high-cardinality
    * string column uncorrelated with the key layout (a name, a URL, a
    * span-id) — and it is how production formats serve needle lookups:
    * ~10 bloom bits per row buys skipping ~99% of a 100 TB table's
    * files for one point predicate.
    *
    * Scale shape: the sidecar probes run ON THE EXECUTORS (one task
    * per ledger slice; each task opens only its own files' few-KB
    * sidecars) and return the metadata-sized surviving path list; the
    * driver never touches bloom bits. Files with no sidecar (written
    * before the bloom column was declared, or a lost sidecar) are kept
    * — skipping is only ever an optimization, never a correctness
    * dependency. */
  def readPoint(spark: SparkSession, root: String, column: String,
      value: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val schema = tableSchema(spark, root, v)
    val survivors = bloomSurvivors(spark, root, column, value, v).toSet
    val entries = loadManifest(spark, root, v).filter(e => survivors(e.relPath))
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
      .filter(col(column).cast("string") === value)
  }

  /** How many data files a `readPoint(column, value)` would open. */
  def prunedPointFileCount(spark: SparkSession, root: String,
      column: String, value: String, version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    bloomSurvivors(spark, root, column, value, v).size
  }

  private def bloomSurvivors(spark: SparkSession, root: String,
      column: String, value: String, v: Int): Seq[String] = {
    val entries = loadManifest(spark, root, v)
    if (!bloomColumn(spark, root).contains(column)) entries.map(_.relPath)
    else {
      val hash = xxhash64String(value)
      val hconf = confMap(spark)
      val rootStr = root
      spark.sparkContext
        .parallelize(entries.map(_.relPath),
          math.max(1, math.min(entries.size, 32)))
        .mapPartitions { rels =>
          rels.filter { rel =>
            val p = new org.apache.hadoop.fs.Path(dataPath(rootStr, rel) + ".bloom")
            val f = p.getFileSystem(confFrom(hconf))
            if (!f.exists(p)) true // no sidecar: cannot skip
            else {
              val in = f.open(p)
              try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                .mightContainLong(hash)
              finally in.close()
            }
          }
        }
        .collect().toSeq.sorted
    }
  }

  /** CHANGE DATA FEED between two versions: row-level inserts, updates
    * (postimage), and deletes (preimage), computed from ONLY the data
    * files that differ between the two manifests — a file carried by
    * reference is bit-identical in both snapshots and contributes
    * nothing, so the feed's cost is proportional to what CHANGED, not
    * to the table (the property that makes incremental downstream
    * consumption viable at 100 TB: a 1,000-row upsert yields a
    * few-file diff regardless of table size). A metadata-only commit
    * (schema evolution, OPTIMIZE of untouched data... any commit that
    * carries every file) produces an empty feed for the carried rows;
    * OPTIMIZE rewrites report nothing either because rewritten rows
    * hash identically on both sides and cancel in the full-outer join.
    *
    * Output: the `to`-version schema plus `_change` ∈
    * insert | update | delete (rows from pre-evolution files are read
    * with the newer schema, NULL-filled — so updates compare only real
    * content). Keys must be unique per snapshot (the upsert contract).
    */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
      key: String, withPreimages: Boolean = false): DataFrame = {
    require(fromV < toV, "changes requires fromV < toV")
    val fromEntries = loadManifest(spark, root, fromV)
    val toEntries = loadManifest(spark, root, toV)
    // diff identity is (file, deletion vector, applying eqdels): a
    // file carried with the SAME DV and the SAME set of applicable
    // equality deletes is identical live content on both sides and
    // contributes nothing; a file whose DV changed — or that a NEW
    // eqdel started applying to — re-enters the diff on both sides
    // and its newly-masked rows surface as deletes. An eqdel ingest
    // therefore feeds CDF its retirements without the ingest itself
    // ever having read the base (the read happens here, on the
    // CONSUMER's clock — and only over the files whose mask changed).
    val fromEq = pendingEqDels(spark, root, fromV)
    val toEq = pendingEqDels(spark, root, toV)
    def eqFp(e: FileEntry, eqs: Seq[EqDel]): Set[Int] =
      eqDelsApplying(e, eqs).map(_.version).toSet
    val fromPaths = fromEntries
      .map(e => (e.relPath, e.dvPath, eqFp(e, fromEq))).toSet
    val toPaths = toEntries
      .map(e => (e.relPath, e.dvPath, eqFp(e, toEq))).toSet
    val removed = fromEntries
      .filterNot(e => toPaths((e.relPath, e.dvPath, eqFp(e, fromEq))))
    val added = toEntries
      .filterNot(e => fromPaths((e.relPath, e.dvPath, eqFp(e, toEq))))
    val schema = tableSchema(spark, root, toV)
    // each side masks with ITS version's pending set — the delta is
    // between the two snapshots' LIVE contents
    def side(es: Seq[FileEntry], eqs: Seq[EqDel]) =
      readEntries(spark, root, schema, es, eqs)
    val cols = schema.fieldNames.toSeq
    // ONE-SIDED windows skip the diff join outright: with no removed
    // files every added row is an insert (old live content is wholly
    // carried), and with no added files every removed-file row is a
    // delete — the append-only / prune-only fast path (a snapshot
    // ship, a file-dropping delete) pays one scan, zero shuffles,
    // zero row hashing. The degenerate output is identical to the
    // join's (o-side or n-side empty makes every row one-sided).
    if (removed.isEmpty)
      return side(added, toEq).withColumn("_change", lit("insert"))
    if (added.isEmpty)
      return side(removed, fromEq).withColumn("_change", lit("delete"))
    def rowHash(alias: String) = md5(concat_ws("\u0001",
      cols.map(c => coalesce(col(s"$alias.$c").cast("string"), lit("\u0000"))): _*))
    val o = side(removed, fromEq).as("o")
    val n = side(added, toEq).as("n")
    val joined = o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .withColumn("_kind",
        when(col(s"o.$key").isNull, "insert")
          .when(col(s"n.$key").isNull, "delete")
          .when(rowHash("o") =!= rowHash("n"), "update"))
      .filter(col("_kind").isNotNull) // same-hash rewrites cancel
    if (!withPreimages)
      joined.select(cols.map(c =>
        when(col("_kind") === "delete", col(s"o.$c"))
          .otherwise(col(s"n.$c")).as(c)) :+ col("_kind").as("_change"): _*)
    else {
      // retraction form: an update emits BOTH images, so a downstream
      // aggregate can subtract the old contribution and add the new --
      // the delta stream incremental view maintenance needs (q236).
      // ONE pass over the join via explode: the old two-projection
      // self-union re-executed the whole diff join per branch (its
      // exchanges were reused, the join itself ran twice)
      val nImg = struct(cols.map(c => col(s"n.$c").as(c)) :+
        when(col("_kind") === "insert", "insert")
          .when(col("_kind") === "update", "update_postimage")
          .as("_change"): _*)
      val oImg = struct(cols.map(c => col(s"o.$c").as(c)) :+
        when(col("_kind") === "delete", "delete")
          .when(col("_kind") === "update", "update_preimage")
          .as("_change"): _*)
      joined.select(explode(array(nImg, oImg)).as("__img"))
        .filter(col("__img._change").isNotNull)
        .select(cols.map(c => col(s"__img.$c").as(c)) :+
          col("__img._change").as("_change"): _*)
    }
  }

  private def colStatsPath(root: String, v: Int, tok: String) =
    new org.apache.hadoop.fs.Path(root, f"_log/colstats-v$v%05d-$tok.tsv")

  private def checkpointPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(root, f"_log/checkpoint-v$v%05d.tsv")

  /** The newest `_log/checkpoint-v{N}.tsv`, parsed: (N, history rows
    * (version, nFiles, nRows) for versions ≤ N, colstats rows (rel,
    * col, mn, mx) live at N). One listStatus + one read. */
  private def loadCheckpoint(spark: SparkSession, root: String)
      : Option[(Int, Seq[(Int, Int, Long)], Seq[(String, String, Long, Long)])] = {
    val (f, _) = fs(root, spark)
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    if (!f.exists(log)) return None
    val vs = f.listStatus(log).map(_.getPath.getName)
      .collect { case s if s.matches("checkpoint-v\\d{5}\\.tsv") =>
        s.substring(12, 17).toInt }
    if (vs.isEmpty) None
    else {
      val cpV = vs.max
      val hist = Seq.newBuilder[(Int, Int, Long)]
      val stats = Seq.newBuilder[(String, String, Long, Long)]
      readFully(f, checkpointPath(root, cpV)).linesIterator
        .filter(_.nonEmpty).foreach { line =>
          line.split('\t') match {
            case Array("H", v, n, r) => hist += ((v.toInt, n.toInt, r.toLong))
            case Array("C", rel, c, mn, mx) =>
              stats += ((rel, c, mn.toLong, mx.toLong))
            case _ => () // forward compatibility: ignore unknown sections
          }
        }
      Some((cpV, hist.result(), stats.result()))
    }
  }

  /** CHECKPOINT the log at the current latest version: one summary file
    * holding (a) the (version, nFiles, nRows) history of every
    * manifest ≤ latest and (b) the accumulated per-file colstats of
    * every file LIVE at latest. After a checkpoint, [[history]] reads
    * manifests only for versions beyond it and [[readRange2D]] stats
    * resolution stops at it — so driver metadata I/O on a long-lived
    * table is O(commits since last checkpoint), not O(all commits)
    * (the problem Delta's checkpoints / Iceberg's manifest lists
    * solve). Idempotent at a given version; [[vacuum]] checkpoints
    * automatically before sweeping sidecars. Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, root: String): Int = {
    val (f, _) = fs(root, spark)
    val versions = committedVersions(f, root)
    require(versions.nonEmpty, s"no table at $root")
    val latest = versions.max
    val cpP = checkpointPath(root, latest)
    if (f.exists(cpP)) return latest // already checkpointed here
    val prior = loadCheckpoint(spark, root)
    val priorV = prior.map(_._1).getOrElse(-1)
    // history ≤ priorV comes from the prior checkpoint (no re-reads);
    // only manifests since then are opened
    val hist = prior.map(_._2).getOrElse(Seq.empty)
      .filter(h => versions.contains(h._1)) ++
      versions.filter(_ > priorV).map { v =>
        val es = loadManifest(spark, root, v)
        (v, es.size, es.map(_.liveRows).sum)
      }
    val liveRels = loadManifest(spark, root, latest).map(_.relPath).toSet
    val stats = loadColStats(spark, root, latest, liveRels)
    // NDV digests of live files ride the checkpoint too (`K` lines),
    // so CBO distinct counts survive vacuum's sidecar sweep exactly
    // like colstats do
    val digests = loadKmvDigests(spark, root, latest, liveRels)
    val lines =
      hist.sortBy(_._1).map { case (v, n, r) => s"H\t$v\t$n\t$r" } ++
        stats.toSeq.sortBy(_._1).map { case ((rel, c), (mn, mx)) =>
          s"C\t$rel\t$c\t$mn\t$mx" } ++
        digests.toSeq.sortBy(_._1).map { case ((rel, c), ds) =>
          s"K\t$rel\t$c\t${ds.mkString(",")}" }
    writeAtomic(f, cpP, lines.mkString("", "\n", "\n"))
    latest
  }

  /** Per-file [min,max] stats for secondary columns, restricted to
    * `rels` (the target manifest's files — never an unbounded
    * all-versions accumulation): the newest checkpoint's stats plus
    * every surviving colstats sidecar at or below `version`. Data
    * files are immutable, so a stats line is valid whenever and
    * wherever it was recorded; sidecars swept by [[vacuum]] live on
    * inside the checkpoint. */
  private def loadColStats(spark: SparkSession, root: String,
      version: Int, rels: Set[String]): Map[(String, String), (Long, Long)] = {
    val (f, _) = fs(root, spark)
    val fromCp = loadCheckpoint(spark, root).map(_._3).getOrElse(Seq.empty)
      .collect { case (rel, c, mn, mx) if rels(rel) => (rel, c) -> (mn, mx) }
    val log = new org.apache.hadoop.fs.Path(root, "_log")
    // token-agnostic read (the loadKmvDigests rule): stat lines are
    // facts about immutable files, rels-filtered — orphans are inert
    val sidecarVs =
      if (!f.exists(log)) Seq.empty[(Int, String)]
      else sidecarVersions(f.listStatus(log).map(_.getPath.getName).toSeq,
        "colstats", "tsv").filter(_._1 <= version)
    val fromSidecars = sidecarVs.flatMap { case (v, tok) =>
      readFully(f, colStatsPath(root, v, tok)).linesIterator
        .filter(_.nonEmpty).flatMap { line =>
          val Array(rel, c, mn, mx) = line.split('\t')
          if (rels(rel)) Some((rel, c) -> (mn.toLong, mx.toLong)) else None
        }.toSeq
    }
    (fromCp ++ fromSidecars).toMap
  }

  /** OPTIMIZE ZORDER BY (c1, c2): rewrite the snapshot as a new version
    * laid out along the Morton curve over two integral columns, and
    * record PER-FILE min/max stats for both in a versioned colstats
    * sidecar — the stats [[readRange2D]] skips with. Z-ordering is the
    * layout answer to the one-axis limit of key bucketing: a file of
    * curve-contiguous rows is a near-square tile in (c1, c2) space, so
    * a 2-D box predicate intersects few tiles, where a key-sorted
    * layout smears every c1/c2 range across all files. Quantization
    * uses exact decimal arithmetic (graft.operators.ZOrder.quantize);
    * the rewrite is a logical no-op gated by checksum (q237); stats
    * collection is a footer-grade scan of only the files just
    * written. Key-range pruning coarsens after z-ordering (per-file
    * key intervals widen) — that trade is the feature, and point
    * upserts on a z-ordered table should re-OPTIMIZE periodically.
    * Every file is an input, so only a commit that adds files without
    * touching one rebases ([[rewriteCommit]]).
    * Returns (newVersion, nFilesWritten). */
  def optimizeZOrder(spark: SparkSession, root: String, key: String,
      c1: String, c2: String, targetRows: Long, bits: Int = 16): (Int, Int) = {
    val snap = resolveSnapshot(spark, root)
    val nRows = snap.entries.map(_.nRows).sum
    require(nRows > 0, "optimizeZOrder on an empty table has nothing to lay out")
    val nBuckets = math.max(1, math.ceil(nRows.toDouble /
      math.max(1L, targetRows)).toInt)
    val (v, nWritten, _) =
      rewriteCommit(spark, root, snap, snap.entries) { rows =>
        // 4 scalars to the driver: the quantization frame
        val b = rows.agg(
          min(col(c1).cast("long")), max(col(c1).cast("long")),
          min(col(c2).cast("long")), max(col(c2).cast("long"))).collect()(0)
        // an entirely-NULL dimension has no quantization frame: fail with
        // a clear message instead of the NPE Row.getLong would throw
        require(!b.isNullAt(0) && !b.isNullAt(2),
          s"optimizeZOrder: column ${if (b.isNullAt(0)) c1 else c2} is NULL in " +
            "every row — a z-order dimension needs at least one non-NULL value")
        val (mn1, mx1, mn2, mx2) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val buckets = 1 << bits
        val z = graft.operators.ZOrder.zvalue(
          graft.operators.ZOrder.quantize(col(c1).cast("long") - mn1,
            lit(mx1 - mn1 + 1), buckets),
          graft.operators.ZOrder.quantize(col(c2).cast("long") - mn2,
            lit(mx2 - mn2 + 1), buckets),
          bits)
        val w = writeDataFiles(spark, root, snap.next, snap.meta, rows, key,
          nBuckets, Some(z))
        val freshDf = readLogical(spark, snap.schema,
          w.entries.map(e => dataPath(root, e.relPath)))
        val stats = freshDf.groupBy(input_file_name().as("file"))
          .agg(min(col(c1).cast("long")).as("mn1"), max(col(c1).cast("long")).as("mx1"),
            min(col(c2).cast("long")).as("mn2"), max(col(c2).cast("long")).as("mx2"))
          .collect()
        val byName = w.entries.map(e => nameOf(e) -> e.relPath).toMap
        val phys = physMap(snap.schema)
        val lines = stats.flatMap { r =>
          val rel = byName(new org.apache.hadoop.fs.Path(
            new java.net.URI(r.getString(0)).getPath).getName)
          // a file whose column is all-NULL has no min/max: write no stats
          // line for that (file, col) — readRange2D keeps stats-less files
          def line(c: String, mnIdx: Int): Option[String] =
            if (r.isNullAt(mnIdx) || r.isNullAt(mnIdx + 1)) None
            else Some(s"$rel\t${phys.getOrElse(c, c)}\t${r.getLong(mnIdx)}\t" +
              r.getLong(mnIdx + 1))
          // ledger keys are physical (rename-invariant), like every sidecar
          line(c1, 1).toSeq ++ line(c2, 3).toSeq
        }.toSeq
        // z-order ranges merge with the write's own stat lines in memory;
        // commitManifest stages the union under its attempt token
        w.copy(statLines = (w.statLines ++ lines).sorted)
      }
    (v, nWritten)
  }

  /** Two-column box read with colstats FILE SKIPPING: only data files
    * whose per-file [min,max] intervals intersect BOTH ranges are
    * opened (files without stats are kept — skipping is an
    * optimization, never a correctness dependency); exact residual
    * filters complete the predicate, so the result equals
    * `read(...).filter(c1 between ... and c2 between ...)` by
    * construction. After [[optimizeZOrder]] the surviving set is a few
    * curve tiles; before it, the stats don't exist and nothing is
    * skipped — the delta is pinned in GraftTableSpec. */
  def readRange2D(spark: SparkSession, root: String,
      c1: String, lo1: Long, hi1: Long,
      c2: String, lo2: Long, hi2: Long,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val schema = tableSchema(spark, root, v)
    val keep = survivors2D(spark, root, c1, lo1, hi1, c2, lo2, hi2, v).toSet
    val entries = loadManifest(spark, root, v).filter(e => keep(e.relPath))
    readEntries(spark, root, schema, entries, pendingEqDels(spark, root, v))
      .filter(col(c1).cast("long").between(lo1, hi1) &&
        col(c2).cast("long").between(lo2, hi2))
  }

  /** How many files a `readRange2D` with these bounds would open. */
  def prunedFileCount2D(spark: SparkSession, root: String,
      c1: String, lo1: Long, hi1: Long,
      c2: String, lo2: Long, hi2: Long,
      version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, root))
    survivors2D(spark, root, c1, lo1, hi1, c2, lo2, hi2, v).size
  }

  private def survivors2D(spark: SparkSession, root: String,
      c1: String, lo1: Long, hi1: Long,
      c2: String, lo2: Long, hi2: Long, v: Int): Seq[String] = {
    val rels = loadManifest(spark, root, v).map(_.relPath)
    val stats = loadColStats(spark, root, v, rels.toSet)
    val (p1, p2) = (toPhys(spark, root, v, c1), toPhys(spark, root, v, c2))
    rels.filter { rel =>
      Seq((p1, lo1, hi1), (p2, lo2, hi2)).forall { case (c, lo, hi) =>
        stats.get((rel, c)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }
  }
}
