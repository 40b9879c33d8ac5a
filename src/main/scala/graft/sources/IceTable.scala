package graft.sources

import java.io.{InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal Iceberg-SHAPED table layer (not the Iceberg library — no Iceberg
  * runtime ships in this environment, SURVEY.md §7.1): a directory of
  * immutable Parquet data files plus a JSON snapshot log with per-file
  * min/max event-time stats.
  *
  * Gives the engine the two Iceberg semantics the north rule needs:
  *   1. snapshot-id LINEAGE — every append records parent & op;
  *      downstream checkpoints cite the source snapshot-id they consumed;
  *   2. stat-based PRUNING — scans pass a time range and only overlapping
  *      files are read (manifest-level partition pruning; at 100 TB this is
  *      what turns an incremental tier build into an O(changed-days) scan).
  * Retention lives in the tier store, not here (TierStore.expireDays).
  *
  * METADATA PLANE IS O(new files) PER APPEND (the Iceberg delta-manifest
  * idea). An append snapshot's JSON lists ONLY the files that append added
  * (`delta: true`); the live file set is the union of the delta chain down
  * to the nearest BASE snapshot (the first append, and every
  * `BaseEvery`-th append, materializes a full manifest so the chain walk is
  * bounded at `BaseEvery` small JSON reads — each snapshot records its
  * distance to the base as `chain_len`, so the base-or-delta decision reads
  * only the parent snapshot, never the chain). N daily appends therefore
  * write O(N) cumulative manifest entries, not the O(N²) a
  * full-list-per-snapshot log accumulates. A `keys.json` index makes keyed
  * idempotency lookups O(1) amortized instead of an O(snapshots) chain
  * walk per streaming epoch (see `syncKeyIndex`).
  *
  * Layout: root/data/d-<uuid>/part-*.parquet, root/snapshots/v<id>.json,
  * root/keys.json (idempotency index), root/CURRENT (text file with latest
  * id; a derived convenience pointer — see commit protocol). Provenance
  * parity: the reference records executed=/used= lineage on every egress
  * (/root/reference/scripts/daily-measures.R:242-251) — here it is the
  * snapshot log itself.
  *
  * Commit protocol (crash-safe, multi-writer CAS — the Iceberg
  * CAS-on-metadata-pointer idea, done as a locked no-overwrite claim):
  *   - data is written to a hidden temp dir and RENAMED into a
  *     UUID-named data/d-<uuid> before any metadata references it, so
  *     concurrent writers can never collide on a data path;
  *   - the COMMIT POINT is the rename-WITHOUT-overwrite of the fully
  *     written snapshot JSON into snapshots/v<id>.json with
  *     id = currentSnapshotId + 1: if another writer claimed that id
  *     first, the rename fails and the loser re-reads the (new) parent
  *     and retries with a fresh id — both appends land, linearized;
  *   - CURRENT is advanced AFTER the claim and is only a hint:
  *     `currentSnapshotId` takes max(CURRENT, highest v*.json), so a crash
  *     (or a racing slow writer) that leaves CURRENT behind heals on the
  *     next read. A crash before the claim leaves only an unreferenced
  *     data/d-<uuid> dir: no snapshot lists it, so no scan reads it (and
  *     nothing deletes it — the table has no orphan-file sweep);
  *   - atomicity of the claim is the storage layer's no-overwrite rename
  *     (server-side atomic on HDFS; object stores need a conditional-put
  *     committer); on LOCAL FS — where POSIX rename overwrites — the
  *     check-then-rename runs under an OS advisory file lock on a
  *     permanent per-table lock file, so cross-PROCESS local writers are
  *     linearized too, and a crashed holder's lock is released by the
  *     kernel (no orphaned claim state; an in-JVM monitor still
  *     serializes same-process writers cheaply);
  *   - the key index is written strictly AFTER the claim, so it can only
  *     ever be STALE, never ahead — `syncKeyIndex` heals staleness by
  *     walking just the (indexed, CURRENT] gap;
  *   - appends may carry an idempotency `key` (recorded in the snapshot):
  *     re-appending a committed key is a no-op returning the original id —
  *     this is what makes at-least-once streaming foreachBatch replays
  *     exactly-once (StreamTier keys each micro-batch by its epoch).
  *     CONCURRENT writers racing the SAME key can both commit (the key
  *     check precedes the claim); last-committed wins the index — keyed
  *     idempotency assumes one writer per key stream, as in streaming.
  *
  * All I/O goes through the Hadoop FileSystem API, so the table works on
  * any Hadoop-supported storage (local file://, HDFS, object stores with a
  * rename-capable committer), not just the local filesystem.
  */
final class IceTable(val root: String) {
  import IceTable.BaseEvery

  private val mapper = new ObjectMapper()

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def rootPath = new Path(root)
  private lazy val fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  private def snapDir = new Path(root, "snapshots")
  private def dataDir = new Path(root, "data")
  private def currentFile = new Path(root, "CURRENT")
  private def keyIndexFile = new Path(root, "keys.json")

  case class FileEntry(path: String, rows: Long, bytes: Long, minTsUs: Long, maxTsUs: Long)

  /** One snapshot-log entry. `files` are the entries RECORDED IN THIS
    * snapshot's JSON: the full live set when `delta` is false (a BASE:
    * first/periodic append), only the newly added files
    * when true. Use `liveFiles` for the resolved live set. `chainLen` =
    * number of delta snapshots between this one and its base (0 for a
    * base). */
  case class Snapshot(
      id: Long,
      parentId: Long,
      op: String,
      files: Seq[FileEntry],
      key: Option[String] = None,
      delta: Boolean = false,
      chainLen: Int = 0)

  private def readFully(p: Path): String = {
    val in = new InputStreamReader(fs.open(p), StandardCharsets.UTF_8)
    try {
      val sb = new StringBuilder
      val buf = new Array[Char](4096)
      var n = in.read(buf)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = in.read(buf) }
      sb.toString
    } finally in.close()
  }

  private lazy val fc: FileContext = FileContext.getFileContext(rootPath.toUri, hadoopConf)

  /** Write `content` to `dst` atomically: temp file + overwrite-rename
    * (FileContext rename is atomic on HDFS and local FS). */
  private def atomicWrite(dst: Path, content: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp-${System.nanoTime()}")
    val out = new OutputStreamWriter(fs.create(tmp, true), StandardCharsets.UTF_8)
    try out.write(content) finally out.close()
    try fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => retryAfterCrcClash(tmp, dst, attemptsLeft = 3)
    }
  }

  /** atomicWrite's recovery from the `.crc` race. Local ChecksumFs renames
    * the data file and its .crc sibling as TWO steps, so two concurrent
    * overwrites of the same dst (e.g. two appenders' post-commit key-index
    * syncs) can interleave such that the loser's crc rename hits the
    * winner's fresh .crc and throws FileAlreadyExistsException — usually
    * AFTER the loser's data file has already been renamed onto dst. Both
    * writers carry a complete value and last-writer-wins is the contract
    * here, so: clear the stale sibling; if `tmp` is gone its content has
    * landed (drop its orphaned .crc) and the write is done; else rename
    * again. Readers tolerate a briefly absent .crc (ChecksumFs skips
    * verification then). */
  private[graft] def retryAfterCrcClash(tmp: Path, dst: Path, attemptsLeft: Int): Unit = {
    fs.delete(new Path(dst.getParent, s".${dst.getName}.crc"), false)
    if (!fs.exists(tmp)) fs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false): Unit
    else
      try fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException if attemptsLeft > 1 =>
          retryAfterCrcClash(tmp, dst, attemptsLeft - 1)
      }
  }

  /** Highest committed snapshot id: max of the CURRENT hint and the
    * highest claimed v*.json (one metadata listing). The listing is what
    * makes a claim durable even if the claimer crashed before advancing
    * CURRENT — the pointer is a cache, the JSON claim is the truth. */
  def currentSnapshotId: Long = {
    // tolerate a hint caught mid-replacement: Hadoop's OVERWRITE rename on
    // local FS is delete-then-rename, so a concurrent reader can observe
    // CURRENT briefly absent (or half-gone) — the claim listing below is
    // the durable truth either way
    val hint = scala.util.Try(readFully(currentFile).trim.toLong).getOrElse(0L)
    math.max(hint, maxIdIn(snapDir, "v", ".json"))
  }

  private def maxIdIn(dir: Path, prefix: String, suffix: String): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).stripSuffix(suffix).toLong).toOption)
      .foldLeft(0L)(math.max)

  def snapshot(id: Long): Option[Snapshot] = {
    val p = new Path(snapDir, f"v$id%05d.json")
    if (!fs.exists(p)) None
    else {
      val n = mapper.readTree(readFully(p))
      val files = n.get("files").elements().asScala.map { f =>
        FileEntry(f.get("path").asText, f.get("rows").asLong, f.get("bytes").asLong,
          f.get("min_ts_us").asLong, f.get("max_ts_us").asLong)
      }.toSeq
      val key = Option(n.get("key")).filterNot(_.isNull).map(_.asText)
      val delta = Option(n.get("delta")).exists(_.asBoolean) // absent (pre-delta log) = base
      val chainLen = Option(n.get("chain_len")).map(_.asInt).getOrElse(0)
      Some(Snapshot(n.get("id").asLong, n.get("parent_id").asLong, n.get("op").asText,
        files, key, delta, chainLen))
    }
  }

  def current: Option[Snapshot] = snapshot(currentSnapshotId)

  /** Resolved live file set of a snapshot: the snapshot's own entries plus,
    * for a delta, every ancestor delta's entries down to the nearest base —
    * at most `chainLen` ≤ BaseEvery extra (small) JSON reads. */
  def liveFiles(s: Snapshot): Seq[FileEntry] = {
    if (!s.delta) s.files
    else {
      var acc = List(s.files)
      var cur = s
      while (cur.delta) {
        cur = snapshot(cur.parentId).getOrElse(throw new IllegalStateException(
          s"delta snapshot ${cur.id} references missing parent ${cur.parentId} in $root"))
        acc = cur.files :: acc
      }
      acc.flatten
    }
  }

  /** Resolved live file set of snapshot `id` (throws on unknown id). */
  def liveFiles(id: Long): Seq[FileEntry] =
    liveFiles(snapshot(id).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot id $id for table $root")))

  /** Resolved live file set of the current snapshot (empty for a fresh table). */
  def currentLiveFiles: Seq[FileEntry] = current.map(liveFiles).getOrElse(Nil)

  /** A snapshot's JSON manifest. */
  private def snapshotJsonString(s: Snapshot): String = {
    val node: ObjectNode = mapper.createObjectNode()
    node.put("id", s.id)
    node.put("parent_id", s.parentId)
    node.put("op", s.op)
    node.put("delta", s.delta)
    node.put("chain_len", s.chainLen)
    s.key.foreach(node.put("key", _))
    val arr: ArrayNode = node.putArray("files")
    s.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows); fn.put("bytes", f.bytes)
      fn.put("min_ts_us", f.minTsUs); fn.put("max_ts_us", f.maxTsUs)
    }
    mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node)
  }

  /** COMMIT POINT: claim snapshots/v<id>.json by rename-WITHOUT-overwrite
    * of a fully written temp file. Returns false (and cleans the temp) if
    * another writer holds the id. The no-overwrite rename is server-side
    * atomic on HDFS; on LOCAL FS FileContext's rename is check-then-rename
    * (POSIX rename overwrites), so two writers in different PROCESSES
    * could both "win" one id and silently lose a committed append — there
    * the rename is additionally guarded by an atomic exclusive-create
    * OS file lock (see [[claimLocalFs]]): only the lock holder may
    * check-and-rename, and the kernel releases the lock on process death,
    * so a crash can never orphan the claim. */
  private[graft] def tryClaimSnapshot(s: Snapshot): Boolean = {
    fs.mkdirs(snapDir)
    val dst = new Path(snapDir, f"v${s.id}%05d.json")
    val tmp = new Path(snapDir, s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = new OutputStreamWriter(fs.create(tmp, true), StandardCharsets.UTF_8)
    try out.write(snapshotJsonString(s)) finally out.close()
    if (isLocalFs) claimLocalFs(tmp, dst)
    else {
      try { fc.rename(tmp, dst); true }
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException
             | _: java.nio.file.FileAlreadyExistsException
             | _: java.io.IOException) =>
          // claim lost (or storage refused) — if dst now exists someone
          // else committed this id; surface anything else as a real failure
          fs.delete(tmp, false): Unit
          if (fs.exists(dst)) false
          else throw new IllegalStateException(
            s"IceTable claim of $dst failed without a competing snapshot", e)
      }
    }
  }

  private def isLocalFs: Boolean = "file" == fs.getUri.getScheme

  /** Local-FS claim, serialized by an OS-mediated advisory file lock on a
    * PERMANENT per-table lock file (`snapshots/.commit.lock`): the holder
    * re-checks dst under the lock (local POSIX rename overwrites, so the
    * check-then-rename must be mutually excluded) and renames. Why a
    * kernel lock and not a marker-file protocol: FileChannel.tryLock is a
    * true cross-process atomic that the OS RELEASES ON PROCESS DEATH —
    * no crash-orphaned state, hence no stale-window heuristics; every
    * path-based marker scheme (exclusive-create + delete/rename-to-break)
    * re-races on break because file operations act on paths, not
    * identities, so a delayed breaker can always destroy a successor's
    * fresh marker. The lock file is NEVER deleted (deleting a lock file
    * lets one claimant lock the old inode while another locks a newly
    * created file at the same path — two "holders"); it is one empty file
    * per table. Same-JVM claimants contending here (normally prevented by
    * claimCommit's monitor) surface as OverlappingFileLockException or a
    * null tryLock — both read as claim-lost. Losers sleep ~50ms so the
    * bounded retry loop yields to a mid-rename competitor. */
  private def claimLocalFs(tmp: Path, dst: Path): Boolean = {
    val lockPath = java.nio.file.Paths.get(
      fs.makeQualified(new Path(snapDir, ".commit.lock")).toUri.getPath)
    // ONE never-closed channel per lock path per JVM (companion cache):
    // FileLock's javadoc allows closing ANY channel to a file to release
    // ALL of the JVM's locks on it, so a per-claim open/close let a losing
    // same-JVM claimant's close() drop the concurrent winner's lock
    // mid-critical-section. A shared channel makes same-JVM contention
    // surface ONLY as OverlappingFileLockException / null tryLock (both
    // read as claim-lost below) and leaks exactly one descriptor per
    // table per JVM lifetime.
    val ch = IceTable.lockChannelFor(lockPath)
    val lock =
      try ch.tryLock()
      catch { case _: java.nio.channels.OverlappingFileLockException => null }
    if (lock == null) {
      fs.delete(tmp, false): Unit
      Thread.sleep(50) // competitor holds the commit lock — yield, retry
      false
    } else {
      try {
        if (fs.exists(dst)) { fs.delete(tmp, false); false }
        else {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri),
            java.nio.file.Paths.get(fs.makeQualified(dst).toUri),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        }
      } finally lock.release()
    }
  }

  /** Linearized commit: build the snapshot against the CURRENT parent,
    * claim parent.id + 1; on a lost claim re-read the parent (which now
    * includes the winner) and rebuild. `build` must therefore be a pure
    * function of (parent, id). Advances the CURRENT hint on success. */
  /** FS-qualified canonical root — the commit-lock key. Two instances on
    * the same directory must share one monitor even when spelled
    * differently ("/t" vs "/t/" vs relative), or the local-FS
    * check-then-rename claim loses its same-JVM atomicity. */
  private lazy val canonicalRoot: String = fs.makeQualified(rootPath).toUri.toString

  private def claimCommit(build: (Option[Snapshot], Long) => Snapshot): Snapshot =
    IceTable.lockFor(canonicalRoot).synchronized {
      var attempts = 0
      var committed: Option[Snapshot] = None
      while (committed.isEmpty) {
        attempts += 1
        require(attempts <= 1000, s"IceTable commit on $root: 1000 lost claims — livelock?")
        val parent = current
        val snap = build(parent, parent.map(_.id).getOrElse(0L) + 1)
        if (tryClaimSnapshot(snap)) committed = Some(snap)
      }
      val s = committed.get
      // CURRENT is a hint: never move it backwards over a faster writer
      if (s.id > (if (fs.exists(currentFile)) scala.util.Try(readFully(currentFile).trim.toLong).getOrElse(0L) else 0L))
        atomicWrite(currentFile, s.id.toString)
      s
    }

  /** Per-file (rows, min ts, max ts, bytes) stats of a committed data dir. */
  private def statsOf(spark: SparkSession, dir: Path, tsCol: String): Seq[FileEntry] = {
    val rows = Parquet.read(spark, dir.toString)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        min(unix_micros(col(tsCol).cast("timestamp"))).as("lo"),
        max(unix_micros(col(tsCol).cast("timestamp"))).as("hi"))
      .collect()
    rows.map { r =>
      val p = new Path(new java.net.URI(r.getAs[String]("f")))
      FileEntry(p.toString, r.getAs[Long]("rows"), fs.getFileStatus(p).getLen,
        r.getAs[Long]("lo"), r.getAs[Long]("hi"))
    }.toSeq
  }

  /** Write df's files and move them into a UUID-named data dir (no id yet:
    * ids are assigned at claim time, and UUID dirs mean concurrent writers
    * never collide on a data path). Returns the committed dir. */
  private def stageDataDir(df: DataFrame): Path = {
    val tmp = new Path(dataDir, s".tmp-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val dir = new Path(dataDir, s"d-${java.util.UUID.randomUUID()}")
    if (!fs.rename(tmp, dir))
      throw new IllegalStateException(s"IceTable commit: rename $tmp -> $dir failed")
    dir
  }

  // ------------------------------------------------------ idempotency index

  /** Read keys.json → (highest indexed snapshot id, key → snapshot id).
    * A corrupt/missing file degrades to (0, empty) — the next sync rebuilds
    * it from the snapshot log (the log is the source of truth). */
  private def readKeyIndex(): (Long, Map[String, Long]) =
    if (!fs.exists(keyIndexFile)) (0L, Map.empty)
    else scala.util.Try {
      val n = mapper.readTree(readFully(keyIndexFile))
      val keys = Option(n.get("keys")).map { kn =>
        kn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.getOrElse(Map.empty[String, Long])
      (n.get("up_to").asLong, keys)
    }.getOrElse((0L, Map.empty))

  /** Bring keys.json up to CURRENT and return the synced key map. Walks
    * ONLY the (up_to, CURRENT] gap — normally zero or one snapshot — so a
    * keyed lookup (and therefore every streaming micro-batch commit) costs
    * O(1) amortized filesystem reads instead of an O(snapshots) chain walk.
    * The index is a pure cache: written post-commit (never ahead of
    * CURRENT), healed from the log when stale, rebuilt if deleted. */
  private def syncKeyIndex(): Map[String, Long] = {
    val (upTo, keys) = readKeyIndex()
    val curId = currentSnapshotId
    if (curId <= upTo) keys
    else {
      val gap = Iterator.iterate(current)(s => s.flatMap(x => snapshot(x.parentId)))
        .takeWhile(_.exists(_.id > upTo))
        .flatten
        .collect { case s if s.op == "append" && s.key.isDefined => s.key.get -> s.id }
        .toList
      // gap walks newest→oldest; "latest append wins" ⇒ oldest applied first
      val merged = keys ++ gap.reverse
      val node = mapper.createObjectNode()
      node.put("up_to", curId)
      val kn = node.putObject("keys")
      merged.foreach { case (k, v) => kn.put(k, v) }
      atomicWrite(keyIndexFile, mapper.writeValueAsString(node))
      merged
    }
  }

  /** Latest committed append snapshot carrying `key` (idempotency lookup) —
    * O(1) amortized via the keys.json index. */
  def appendIdForKey(key: String): Option[Long] = syncKeyIndex().get(key)

  // --------------------------------------------------------------- commits

  /** Append a DataFrame as a new snapshot. `tsCol` drives per-file min/max
    * stats. `key` (optional) makes the append idempotent: if a committed
    * append already carries the key, nothing is written and its id is
    * returned — the contract streaming foreachBatch replays rely on.
    *
    * The snapshot manifest lists ONLY this append's files (delta), except
    * every `BaseEvery`-th append in a chain, which materializes the full
    * live set so reads stay bounded. */
  def append(df: DataFrame, tsCol: String, key: Option[String] = None): Long =
    key.flatMap(appendIdForKey).getOrElse {
      // stage data ONCE (the expensive part); the claim loop below only
      // rebuilds cheap manifest metadata if a concurrent writer wins an id
      val dir = stageDataDir(df)
      val entries = statsOf(df.sparkSession, dir, tsCol)
      val snap = claimCommit { (parent, id) =>
        val newChainLen = parent.map(_.chainLen + 1).getOrElse(1)
        if (parent.isEmpty || newChainLen >= BaseEvery)
          Snapshot(id, parent.map(_.id).getOrElse(0L), "append",
            parent.map(liveFiles).getOrElse(Nil) ++ entries, key, delta = false, chainLen = 0)
        else
          Snapshot(id, parent.get.id, "append", entries, key, delta = true, chainLen = newChainLen)
      }
      syncKeyIndex() // post-commit; stale-only on crash, healed next lookup
      snap.id
    }

  /** Scan the current snapshot, optionally pruned to files overlapping
    * [loUs, hiUs] via manifest stats (no parquet touched outside range). */
  def scan(spark: SparkSession, loUs: Long = Long.MinValue, hiUs: Long = Long.MaxValue): DataFrame =
    scanSnapshot(spark, current, loUs, hiUs)

  /** Time travel: scan a PAST snapshot by id (data files are immutable and
    * never deleted, so every committed snapshot stays readable — the
    * Iceberg `VERSION AS OF` analog). */
  def scanAt(spark: SparkSession, snapshotId: Long, loUs: Long = Long.MinValue, hiUs: Long = Long.MaxValue): DataFrame = {
    require(snapshot(snapshotId).isDefined, s"unknown snapshot id $snapshotId for table $root")
    scanSnapshot(spark, snapshot(snapshotId), loUs, hiUs)
  }

  private def scanSnapshot(spark: SparkSession, s: Option[Snapshot], loUs: Long, hiUs: Long): DataFrame = {
    val files = s.map(liveFiles).getOrElse(Nil)
      .filter(f => f.maxTsUs >= loUs && f.minTsUs <= hiUs)
      .map(_.path)
    if (files.isEmpty) spark.emptyDataFrame
    else Parquet.readFiles(spark, files)
  }

  /** Total (rows, bytes) in the current snapshot — table-level metrics. */
  def metrics: (Long, Long) = {
    val fs = currentLiveFiles
    (fs.map(_.rows).sum, fs.map(_.bytes).sum)
  }
}

object IceTable {
  /** Delta-chain bound: every BaseEvery-th append writes a full manifest. */
  val BaseEvery = 64

  /** Per-root commit monitors: serializes same-JVM writers (cheaper than
    * lock-file contention; cross-process local-FS writers are serialized
    * by claimLocalFs's OS advisory FileChannel lock on the permanent
    * `.commit.lock` file, HDFS claims by atomic rename). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  /** One NEVER-CLOSED FileChannel per commit-lock file per JVM: FileLock
    * permits closing any channel to a file to release all of the JVM's
    * locks on it, so per-claim open/close could drop a concurrent
    * winner's lock (see claimLocalFs). The cache entry remembers the file
    * identity it was opened on and is replaced when the file at `p` is no
    * longer that file (a table root deleted and recreated): a lock on the
    * deleted file would exclude no one who opens the new one. The stale
    * channel is left open, since a claimant may still hold its lock; one
    * descriptor per table per recreation, JVM lifetime. */
  private final case class LockChannel(ch: java.nio.channels.FileChannel, fileKey: AnyRef)
  private val lockChannels = new java.util.concurrent.ConcurrentHashMap[String, LockChannel]()
  private def fileKeyOf(p: java.nio.file.Path): Option[AnyRef] =
    scala.util.Try(java.nio.file.Files.readAttributes(
      p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey).toOption
  private[graft] def lockChannelFor(p: java.nio.file.Path): java.nio.channels.FileChannel =
    lockChannels.compute(p.toString, (_, cached) =>
      if (cached != null && fileKeyOf(p).contains(cached.fileKey)) cached
      else {
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        LockChannel(ch, fileKeyOf(p).orNull)
      }).ch

  def apply(root: String): IceTable = new IceTable(root)
}
