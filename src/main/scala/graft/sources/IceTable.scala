package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * full-list-per-snapshot log accumulates.
  *
  * Layout: root/data/d-<uuid>/part-*.parquet, root/snapshots/v<id>.json,
  * root/CURRENT (text file with latest id; a derived convenience pointer —
  * see commit protocol). Provenance
  * parity: the reference records executed=/used= lineage on every egress
  * (/root/reference/scripts/daily-measures.R:242-251) — here it is the
  * snapshot log itself. The snapshot log and CURRENT are the table's only
  * metadata; a `keys.json` index that older versions wrote is never read.
  *
  * Commit protocol (crash-safe, multi-writer CAS — the Iceberg
  * CAS-on-metadata-pointer idea, done as a put-if-absent claim; every
  * metadata file is read, replaced and claimed through [[MetaFiles]]):
  *   - data is written to a hidden temp dir and RENAMED into a
  *     UUID-named data/d-<uuid> before any metadata references it, so
  *     concurrent writers can never collide on a data path;
  *   - the COMMIT POINT is the CLAIM of snapshots/v<id>.json with
  *     id = currentSnapshotId + 1: the fully written JSON is published
  *     only if no file holds that name (`link(2)` on the local
  *     filesystem, rename-without-overwrite elsewhere), so across threads
  *     and processes exactly one writer wins an id. The loser re-reads the
  *     (new) parent and retries with a fresh id — both appends land,
  *     linearized;
  *   - CURRENT is advanced AFTER the claim and is only a hint:
  *     `currentSnapshotId` takes max(CURRENT, highest v*.json), so a crash
  *     (or a racing slow writer) that leaves CURRENT behind heals on the
  *     next read. A crash before the claim leaves only an unreferenced
  *     data/d-<uuid> dir or a hidden staged JSON: no listing or snapshot
  *     names them, so no scan reads them (and nothing deletes them — the
  *     table has no orphan-file sweep).
  *
  * All I/O goes through the Hadoop FileSystem API or [[MetaFiles]], so the
  * table works on any Hadoop-supported storage (local file://, HDFS,
  * object stores with a rename-capable committer), not just the local
  * filesystem.
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
  private lazy val meta = new MetaFiles(fs)

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
      delta: Boolean = false,
      chainLen: Int = 0)

  /** Highest committed snapshot id: max of the CURRENT hint and the
    * highest claimed v*.json (one metadata listing). The listing is what
    * makes a claim durable even if the claimer crashed before advancing
    * CURRENT — the pointer is a cache, the JSON claim is the truth. */
  def currentSnapshotId: Long = math.max(currentHint, maxIdIn(snapDir, "v", ".json"))

  /** The CURRENT hint, 0 when absent or unreadable. */
  private def currentHint: Long =
    meta.read(currentFile).flatMap(_.trim.toLongOption).getOrElse(0L)

  private def maxIdIn(dir: Path, prefix: String, suffix: String): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).stripSuffix(suffix).toLong).toOption)
      .foldLeft(0L)(math.max)

  /** Snapshot `id` from its JSON; fields this version does not write
    * (the `key` of older keyed appends) are ignored. */
  def snapshot(id: Long): Option[Snapshot] =
    meta.read(new Path(snapDir, f"v$id%05d.json")).map { json =>
      val n = mapper.readTree(json)
      val files = n.get("files").elements().asScala.map { f =>
        FileEntry(f.get("path").asText, f.get("rows").asLong, f.get("bytes").asLong,
          f.get("min_ts_us").asLong, f.get("max_ts_us").asLong)
      }.toSeq
      val delta = Option(n.get("delta")).exists(_.asBoolean) // absent (pre-delta log) = base
      val chainLen = Option(n.get("chain_len")).map(_.asInt).getOrElse(0)
      Snapshot(n.get("id").asLong, n.get("parent_id").asLong, n.get("op").asText,
        files, delta, chainLen)
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
    val arr: ArrayNode = node.putArray("files")
    s.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows); fn.put("bytes", f.bytes)
      fn.put("min_ts_us", f.minTsUs); fn.put("max_ts_us", f.maxTsUs)
    }
    mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node)
  }

  /** COMMIT POINT: claim snapshots/v<id>.json with the fully written
    * snapshot JSON. Returns false if another writer holds the id. The
    * claim is a put-if-absent ([[MetaFiles.claim]]), atomic across threads
    * and processes, so no two writers — in one JVM or not — can both win
    * an id and silently lose a committed append. */
  private[graft] def tryClaimSnapshot(s: Snapshot): Boolean = {
    fs.mkdirs(snapDir)
    meta.claim(new Path(snapDir, f"v${s.id}%05d.json"), snapshotJsonString(s))
  }

  /** FS-qualified canonical root — the monitor key. Two instances on the
    * same directory must share one monitor even when spelled differently
    * ("/t" vs "/t/" vs relative). */
  private lazy val canonicalRoot: String = fs.makeQualified(rootPath).toUri.toString

  /** Linearized commit: build the snapshot against the CURRENT parent,
    * claim parent.id + 1; on a lost claim re-read the parent (which now
    * includes the winner) and rebuild. `build` must therefore be a pure
    * function of (parent, id). Advances the CURRENT hint on success. */
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
      if (s.id > currentHint) meta.replace(currentFile, s.id.toString)
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

  // --------------------------------------------------------------- commits

  /** Append a DataFrame as a new snapshot: stage its data dir, take
    * per-file stats (`tsCol` drives the min/max), claim the next
    * `v<id>.json`, advance CURRENT. Returns the snapshot id.
    *
    * The snapshot manifest lists ONLY this append's files (delta), except
    * every `BaseEvery`-th append in a chain, which materializes the full
    * live set so reads stay bounded. */
  def append(df: DataFrame, tsCol: String): Long = {
    // stage data ONCE (the expensive part); the claim loop below only
    // rebuilds cheap manifest metadata if a concurrent writer wins an id
    val dir = stageDataDir(df)
    val entries = statsOf(df.sparkSession, dir, tsCol)
    claimCommit { (parent, id) =>
      val newChainLen = parent.map(_.chainLen + 1).getOrElse(1)
      if (parent.isEmpty || newChainLen >= BaseEvery)
        Snapshot(id, parent.map(_.id).getOrElse(0L), "append",
          parent.map(liveFiles).getOrElse(Nil) ++ entries, delta = false, chainLen = 0)
      else
        Snapshot(id, parent.get.id, "append", entries, delta = true, chainLen = newChainLen)
    }.id
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

  private def scanSnapshot(spark: SparkSession, s: Option[Snapshot], loUs: Long, hiUs: Long): DataFrame =
    scanFiles(spark, s.map(liveFiles).getOrElse(Nil), loUs, hiUs)

  /** Scan a live file set the caller already resolved (a snapshot pinned
    * for a whole read, as `IceDaySource` does), pruned the same way. When
    * the range prunes every live file the result is still empty with the
    * table's schema: that of the footer an unpruned scan would read (the
    * first live file in path order), so no Spark job starts. */
  private[graft] def scanFiles(spark: SparkSession, live: Seq[FileEntry], loUs: Long, hiUs: Long): DataFrame = {
    val files = live.filter(f => f.maxTsUs >= loUs && f.minTsUs <= hiUs).map(_.path)
    if (files.nonEmpty) Parquet.readFiles(spark, files)
    else if (live.nonEmpty) Parquet.readFiles(spark, Seq(live.map(_.path).min)).where(lit(false))
    else spark.emptyDataFrame
  }
}

object IceTable {
  /** Delta-chain bound: every BaseEvery-th append writes a full manifest. */
  val BaseEvery = 64

  /** Per-root commit monitors: the claim alone keeps writers correct,
    * but same-JVM writers racing for one id would keep losing claims to
    * each other and rebuilding; the monitor makes them take turns. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  def apply(root: String): IceTable = new IceTable(root)
}
