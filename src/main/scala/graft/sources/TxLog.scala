package graft.sources

import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Paths, StandardOpenOption}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Q, Staged, Tables}

/** A minimal transactional table layer over parquet — ACID appends /
  * overwrites / copy-on-write deletes, snapshot isolation, time
  * travel, compaction, and vacuum — built from the public lakehouse
  * design (an ordered log of file-level add/remove actions with
  * periodic checkpoints; Delta Lake, VLDB 2020; Iceberg's snapshot
  * manifests are the same idea). The Delta/Iceberg connector jars are
  * absent from this offline container (COVERAGE.md), but — exactly
  * like the Avro connector before it (`AvroSource.scala`) — the
  * capability doesn't need the jar: the data plane is ordinary
  * parquet scans (pushdown, pruning, vectorization all free), and the
  * control plane is a few KB of JSON per commit.
  *
  * Layout: `<table>/data-<uuid>.parquet` data files (flat, immutable,
  * write-once), `<table>/_txlog/%020d.json` one log entry per
  * version, `<table>/_txlog/checkpoint-%020d.json` a full snapshot of
  * the file list every [[CheckpointInterval]] commits.
  *
  * The scale argument, point by point:
  *  - '''Readers never list data files.''' A snapshot is resolved
  *    from the newest checkpoint ≤ the target version plus the log
  *    suffix after it — O(interval) small JSON reads, independent of
  *    both table size and table age. Object-store listing (the
  *    classic metadata bottleneck at 100 TB / millions of files) is
  *    never on the read path.
  *  - '''Writers never rewrite clean data.''' Append moves new files
  *    in and publishes them in one log entry. Delete-where first runs
  *    ONE distributed scan that maps matching rows to their files
  *    (`input_file_name` group-by), then rewrites only the dirty
  *    files; a predicate touching 1% of files costs 1% of the table,
  *    not a full rewrite.
  *  - '''Commits are atomic and optimistic.''' Publishing version N
  *    is a create-if-absent of `%020d.json` (hard-link trick on local
  *    filesystems — POSIX `link(2)` fails atomically if the target
  *    exists, sidestepping rename-overwrites; exclusive `create` on
  *    HDFS-like stores, where the namenode arbitrates). Losers of the
  *    race re-resolve and retry (appends — commutative) or abort with
  *    a conflict (overwrite/delete/compact — their base snapshot went
  *    stale, the lost-update case a table format exists to prevent).
  *    Data files move in BEFORE the log entry publishes, so a crash
  *    between the two leaves only unreferenced orphans for vacuum —
  *    readers can never observe a half-commit.
  *  - '''History is bounded on request.''' Vacuum deletes data files
  *    referenced only by versions older than the retention floor,
  *    publishes the floor in its own log entry, and time travel below
  *    the floor fails loudly (never a silent partial snapshot).
  *
  * The reference has no durable-table notion at all (its jobs read
  * and write whole text files, reference worker.py); this layer is
  * what its pipeline outputs would need the moment two jobs write one
  * dataset concurrently.
  */
object TxLog {
  val CheckpointInterval = 10

  private implicit val fmts: Formats = DefaultFormats

  /** Per-column file statistics, harvested from the parquet FOOTER at
    * commit time (metadata-only reads — no second pass over the
    * data). `kind` tags how min/max strings compare: "long" (ints,
    * longs, and timestamp/date internal encodings), "double",
    * "string" — plus "allnull" for a column with no non-null value in
    * the file (min/max empty; every comparison and isNotNull prune
    * it). `nulls` = −1 means the writer didn't record a null count
    * (isNull pruning then fails open). A column any row group leaves
    * unclassifiable is simply absent — skipping is an optimization,
    * never a correctness input.
    */
  final case class ColStats(kind: String, min: String, max: String, nulls: Long)

  /** `rows = -1` marks an entry written before row counts were
    * logged; null-count pruning refuses to trust such entries'
    * (possibly clamped) zero null counts.
    */
  final case class AddFile(path: String, bytes: Long,
      rows: Long = -1L, stats: Option[Map[String, ColStats]] = None)

  /** A positional deletion-vector sidecar (merge-on-read, the
    * published Delta-DV / Iceberg-positional-delete design): a
    * parquet file of (file STRING, pos BIGINT) rows marking deleted
    * positions of live data files. `files` is the (superset) list of
    * data files the sidecar references — a sidecar is LIVE only
    * while at least one of them is; rewriting every referenced file
    * (compact/apply/cluster/COW) garbage-collects it at resolution
    * time with no explicit remove action.
    */
  final case class DvFile(path: String, files: Seq[String],
      rows: Long, bytes: Long)

  final case class Entry(version: Long, action: String,
      add: Seq[AddFile], remove: Seq[String],
      schema: Option[String], floor: Option[Long],
      txnApp: Option[String] = None, txnBatch: Option[Long] = None,
      dvAdd: Option[Seq[DvFile]] = None)

  final case class Snapshot(version: Long, schemaDdl: String,
      files: Seq[AddFile], dvs: Seq[DvFile] = Seq.empty)

  final class ConflictException(msg: String)
    extends RuntimeException(msg)

  /* ------------------------- log primitives ------------------------ */

  private def logDir(table: String) = new Path(table, "_txlog")
  private def entryPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")
  private def checkpointPath(table: String, v: Long) =
    new Path(logDir(table), f"checkpoint-$v%020d.json")

  private def fsOf(s: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(s.sessionState.newHadoopConf())

  /** Create-if-absent publication: the one primitive every commit's
    * atomicity rests on. Local scheme: write a temp file then
    * `link(2)` it to the final name — POSIX guarantees link fails
    * with EEXIST atomically (a plain rename would silently overwrite
    * a racing winner). Other schemes: `FileSystem.create(p, false)`,
    * whose exclusivity the store's metadata service arbitrates.
    */
  private def atomicCreate(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean = {
    if (fs.getScheme == "file") {
      val dst = Paths.get(p.toUri.getPath)
      Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp-${UUID.randomUUID()}")
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      try { Files.createLink(dst, tmp); true }
      catch { case _: NioExists => false }
      finally Files.delete(tmp)
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  import org.json4s.JsonDSL._

  private def renderAdd(a: AddFile): JObject =
    ("path" -> a.path) ~ ("bytes" -> a.bytes) ~ ("rows" -> a.rows) ~
      ("stats" -> a.stats.map(_.map { case (c, st) =>
        c -> (("kind" -> st.kind) ~ ("min" -> st.min) ~
          ("max" -> st.max) ~ ("nulls" -> st.nulls)) }))

  private def renderDv(d: DvFile): JObject =
    ("path" -> d.path) ~ ("files" -> d.files) ~
      ("rows" -> d.rows) ~ ("bytes" -> d.bytes)

  private def renderEntry(e: Entry): Array[Byte] = {
    val j: JObject =
      ("version" -> e.version) ~ ("action" -> e.action) ~
      ("add" -> e.add.map(renderAdd)) ~
      ("remove" -> e.remove) ~ ("schema" -> e.schema) ~ ("floor" -> e.floor) ~
      ("txnApp" -> e.txnApp) ~ ("txnBatch" -> e.txnBatch) ~
      ("dvAdd" -> e.dvAdd.map(_.map(renderDv)))
    JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8")
  }

  private def parseEntry(bytes: Array[Byte]): Entry =
    JsonMethods.parse(new String(bytes, "UTF-8")).extract[Entry]

  private val EntryName = """(\d{20})\.json""".r
  private val CheckpointName = """checkpoint-(\d{20})\.json""".r

  /** (entry versions, checkpoint versions) present in the log. One
    * listing of the log dir — O(versions since last vacuum of log…)
    * metadata, never data files.
    */
  private def listLog(fs: FileSystem, table: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    (names.collect { case EntryName(v) => v.toLong }.sorted.toSeq,
     names.collect { case CheckpointName(v) => v.toLong }.sorted.toSeq)
  }

  def currentVersion(s: SparkSession, table: String): Long = {
    val (entries, _) = listLog(fsOf(s, table), table)
    if (entries.isEmpty) -1L else entries.max
  }

  /* --------------------------- snapshots --------------------------- */

  /** Resolve the file list + schema of `asOf` (default: head).
    * Reads the newest checkpoint ≤ asOf, then replays only the log
    * suffix — the read path a long-lived table depends on.
    */
  def snapshotState(s: SparkSession, table: String, asOf: Option[Long] = None): Snapshot = {
    val fs = fsOf(s, table)
    val (entries, checkpoints) = listLog(fs, table)
    require(entries.nonEmpty, s"not a txlog table (no _txlog entries): $table")
    val target = asOf.getOrElse(entries.max)
    require(entries.contains(target),
      s"version $target does not exist in $table (head=${entries.max})")

    // respect the newest vacuum floor: data files of pre-floor
    // versions may be gone — fail loudly, never partially. The floor
    // rides in checkpoints, so this is the head's log suffix only,
    // not a walk of the whole history.
    val floor = resolveFloor(fs, table, entries, checkpoints)
    if (target < floor)
      throw new IllegalStateException(
        s"version $target was vacuumed (retention floor $floor); " +
        s"time travel below the floor is not possible")

    val ckpt = checkpoints.filter(_ <= target).sorted.lastOption
    val (startFiles, startDvs, startSchema, replayFrom) = ckpt match {
      case Some(cv) =>
        val st = readCheckpoint(fs, table, cv)
        (st.files, st.dvs.getOrElse(Seq.empty), Option(st.schemaDdl), cv + 1)
      case None => (Seq.empty[AddFile], Seq.empty[DvFile], None: Option[String], 0L)
    }
    val files = mutable.LinkedHashMap[String, AddFile](startFiles.map(f => f.path -> f): _*)
    val dvs = mutable.LinkedHashMap[String, DvFile](startDvs.map(d => d.path -> d): _*)
    var schema = startSchema
    (replayFrom to target).foreach { v =>
      val e = readEntry(fs, table, v)
      e.remove.foreach(files.remove)
      e.add.foreach(a => files(a.path) = a)
      e.dvAdd.foreach(_.foreach(d => dvs(d.path) = d))
      if (e.schema.nonEmpty) schema = e.schema
    }
    // DV auto-GC: a sidecar referencing no live data file carries
    // nothing a scan could subtract — drop it from the snapshot (the
    // physical file stays until vacuum)
    val liveNames = files.keySet
    Snapshot(target, schema.getOrElse(
      throw new IllegalStateException(s"no schema recorded up to version $target")),
      files.values.toSeq,
      dvs.values.filter(_.files.exists(liveNames.contains)).toSeq)
  }

  /** Checkpoint payload: the full snapshot at its version plus the
    * retention floor known at write time (so floor resolution never
    * walks history past the newest checkpoint).
    */
  private final case class CkptState(version: Long, schemaDdl: String,
      files: Seq[AddFile], floor: Long,
      txns: Option[Map[String, Long]] = None,
      dvs: Option[Seq[DvFile]] = None)

  /** Evidence hook (TxLogEconomy): drop the entry/checkpoint caches so
    * a resolution timing measures real metadata I/O, not cache hits.
    */
  def dropMetadataCaches(): Unit = { entryMap.clear(); ckptMap.clear() }

  private val ckptMap =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), CkptState]()
  private def readCheckpoint(fs: FileSystem, table: String, v: Long): CkptState = {
    val k = (table, v)
    val hit = ckptMap.get(k)
    if (hit != null) hit
    else {
      if (ckptMap.size > 1000) ckptMap.clear()
      val c = JsonMethods.parse(
        new String(readBytes(fs, checkpointPath(table, v)), "UTF-8")).extract[CkptState]
      ckptMap.putIfAbsent(k, c)
      c
    }
  }

  /** The retention floor currently in force: the newest checkpoint's
    * recorded floor plus any vacuum entries in the head's log suffix.
    * O(interval) reads.
    */
  private def resolveFloor(fs: FileSystem, table: String,
      entries: Seq[Long], checkpoints: Seq[Long]): Long = {
    if (entries.isEmpty) return 0L
    val head = entries.max
    val headCkpt = checkpoints.filter(_ <= head).sorted.lastOption
    val ckptFloor = headCkpt.map(cv => readCheckpoint(fs, table, cv).floor).getOrElse(0L)
    (headCkpt.map(_ + 1).getOrElse(0L) to head)
      .flatMap(v => readEntry(fs, table, v).floor)
      .foldLeft(ckptFloor)(math.max)
  }

  // Log entries and checkpoints are immutable once published, so both
  // caches are read-through. I/O happens OUTSIDE the lock (concurrent
  // resolutions must not serialize on disk reads; a racing double-read
  // of the same immutable entry is harmless), and a crude size cap
  // bounds a long-lived session touching many tables.
  private val entryMap =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Entry]()
  private def readEntry(fs: FileSystem, table: String, v: Long): Entry = {
    val k = (table, v)
    val hit = entryMap.get(k)
    if (hit != null) hit
    else {
      if (entryMap.size > 100000) entryMap.clear()
      val e = parseEntry(readBytes(fs, entryPath(table, v)))
      entryMap.putIfAbsent(k, e)
      e
    }
  }

  // hidden join columns of the DV anti-join (dropped before the
  // frame is handed out)
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** The one table-scan primitive every read AND every rewrite path
    * goes through: parquet scan of `files` with the snapshot's live
    * deletion vectors subtracted. The subtraction is a left-anti join
    * on (file_name, row_index) — both sides read from Spark's
    * `_metadata` columns, so positions mean the same thing at DV
    * CREATION and at scan time. Only sidecars referencing a scanned
    * file join (a pruned scan subtracts only its own files' DVs), and
    * the DV side is delete-batch-sized — bounded by maintenance
    * policy ([[applyDvs]]/[[compact]] fold it back to zero), so AQE
    * broadcasts it in the common case. Pushdown stays intact: filters
    * on data columns push through the preserved side of the anti
    * join into the parquet scan. Every REWRITE path (compact,
    * cluster, COW delete, merge survivors, applyDvs) reads through
    * this too — copying raw file bytes would resurrect DV-deleted
    * rows.
    */
  private def scanWithDvs(s: SparkSession, table: String, snap: Snapshot,
      files: Seq[AddFile], keepMeta: Boolean = false): DataFrame = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    if (files.isEmpty) {
      val base = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      return if (keepMeta)
        base.withColumn(DvFileCol, lit(null).cast("string"))
          .withColumn(DvPosCol, lit(null).cast("long"))
      else base
    }
    val paths = files.map(f => new Path(table, f.path).toString)
    val names = files.map(_.path).toSet
    val live = snap.dvs.filter(_.files.exists(names.contains))
    val base = s.read.schema(schema).parquet(paths: _*)
    if (live.isEmpty && !keepMeta) base
    else {
      val tagged = base.select(col("*"),
        col("_metadata.file_name").as(DvFileCol),
        col("_metadata.row_index").as(DvPosCol))
      val out =
        if (live.isEmpty) tagged
        else {
          val dv = s.read
            .parquet(live.map(d => new Path(table, d.path).toString): _*)
            .select(col("file").as(DvFileCol), col("pos").as(DvPosCol))
          tagged.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
        }
      if (keepMeta) out else out.drop(DvFileCol, DvPosCol)
    }
  }

  /** Snapshot read: parquet scan over the resolved file list with the
    * recorded schema and live deletion vectors applied — Catalyst
    * sees a normal multi-file relation (pushdown/pruning intact; the
    * DV anti-join sits above the scan only when DVs exist).
    */
  def read(s: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshotState(s, table, asOf)
    scanWithDvs(s, table, snap, snap.files)
  }

  /* ------------------------- data skipping ------------------------- */

  /** Predicate-driven file pruning over the logged footer stats, then
    * the ordinary snapshot scan WITH the full predicate still applied
    * — stats only ever shrink the file list, never decide rows. The
    * matcher understands conjunctions of `col <op> literal`
    * comparisons (both operand orders, casts unwrapped); anything it
    * doesn't understand contributes nothing, so arbitrary predicates
    * stay correct. This is partition-pruning's file-grained sibling:
    * on a table range-clustered by the predicate column, a selective
    * scan opens a constant few files out of the fleet.
    */
  def readWhere(s: SparkSession, table: String, cond: Column,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshotState(s, table, asOf)
    val (selected, _) = pruneSnapshot(snap, cond)
    scanWithDvs(s, table, snap, selected).filter(cond)
  }

  /** (files the predicate may touch, total files in the snapshot).
    * Bounds are read from the Column's sql-api node tree (the
    * pre-analysis form every Column DSL call builds): conjunctions of
    * `col <op> literal` in either operand order. Unrecognized shapes
    * contribute no bound — fail open, never wrong.
    */
  private[graft] def pruneFiles(s: SparkSession, table: String, cond: Column,
      asOf: Option[Long] = None): (Seq[AddFile], Int) =
    pruneSnapshot(snapshotState(s, table, asOf), cond)

  private def pruneSnapshot(snap: Snapshot, cond: Column): (Seq[AddFile], Int) = {
    // (column, op, literal) conjuncts, column-on-the-left
    val bounds: Seq[(String, String, Any)] =
      org.apache.spark.sql.graftglue.GraftGlue.comparisonBounds(cond)
    def excluded(f: AddFile): Boolean = f.stats.exists { stats =>
      bounds.exists { case (name, op, v) =>
        stats.get(name).exists { st =>
          op match {
            // no null anywhere — trusted only for entries that carry a
            // row count (rows >= 0): earlier log entries clamped an
            // UNKNOWN parquet null count (-1) to 0, and the log is
            // immutable, so their zero cannot prove absence of nulls
            case "isnull"    => st.nulls == 0 && f.rows >= 0
            case "isnotnull" => st.kind == "allnull"   // nothing BUT nulls
            // a comparison against an all-null column matches nothing
            case _ if st.kind == "allnull" => true
            case _ =>
              cmp(st.kind, v).exists { toCmp =>
                val (mn, mx) = (toCmp(st.min), toCmp(st.max))
                op match {
                  case "="  => mn > 0 || mx < 0   // lit < min or lit > max
                  case "<"  => mn >= 0            // min >= lit: nothing below
                  case "<=" => mn > 0
                  case ">"  => mx <= 0            // max <= lit: nothing above
                  case ">=" => mx < 0
                }
              }
          }
        }
      }
    }
    (snap.files.filterNot(excluded), snap.files.size)
  }

  /** Comparator factory: stat-string vs the predicate literal, under
    * the stat kind's ordering; None when the literal's type doesn't
    * belong to that ordering (→ no skipping from this bound).
    * Returns sign(stat - lit).
    */
  private def cmp(kind: String, v: Any): Option[String => Int] = kind match {
    case "string" =>
      // compare in UTF-8 byte order (= parquet's stats order), never
      // UTF-16 code units — see statLt
      val lit = v match {
        case s: org.apache.spark.unsafe.types.UTF8String => Some(s)
        case s: String => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      }
      lit.map(l => (st: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(st).compareTo(l))
    case _ =>
      // the shared ladder drops NaN/Infinity literals (None = fail open)
      org.apache.spark.sql.graftglue.GraftGlue.numericLit(v)
        .map(lit => (st: String) => BigDecimal(st).compare(lit))
  }

  /** Row-level change feed between two versions, derived from the
    * snapshots: multiset difference in both directions (`exceptAll`,
    * so duplicate rows change-count correctly), tagged
    * `change_type` ∈ {insert, delete} — an update surfaces as
    * delete+insert, the classic derived-CDC contract
    * (`snapshot_diff`'s table-layer sibling; the operator version
    * hashes fixture slices, this one reads real committed versions).
    * Cost: two snapshot scans + the set-difference shuffle — the
    * honest price when changes are DERIVED rather than logged at
    * commit time; pure rewrites (compact/cluster) produce zero rows
    * by construction.
    */
  def changes(s: SparkSession, table: String, fromV: Long, toV: Long): DataFrame = {
    val before = read(s, table, Some(fromV))
    val after = read(s, table, Some(toV))
    // a metadata-only evolution between the versions leaves the two
    // snapshots with different column sets: align by null-filling the
    // columns one side lacks (exactly the fill readers of the wider
    // schema see), erroring loudly if a SHARED column changed type
    val afterF = after.schema.fields.map(f => f.name -> f).toMap
    before.schema.fields.foreach { f =>
      afterF.get(f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"changes($fromV,$toV): column '${f.name}' changed type " +
          s"${f.dataType} -> ${g.dataType}; the feed cannot align it")
      }
    }
    val allCols = (after.schema.fields ++
      before.schema.fields.filterNot(f => afterF.contains(f.name))).toSeq
    def align(df: DataFrame): DataFrame = {
      val have = df.schema.fieldNames.toSet
      df.select(allCols.map { f =>
        if (have(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    val (b, a) = (align(before), align(after))
    a.exceptAll(b).withColumn("change_type", lit("insert"))
      .unionByName(b.exceptAll(a).withColumn("change_type", lit("delete")))
  }

  /** Commit history as a DataFrame (version, action, files added /
    * removed, bytes added) — the audit surface.
    */
  def history(s: SparkSession, table: String): DataFrame = {
    val fs = fsOf(s, table)
    val (entries, _) = listLog(fs, table)
    import s.implicits._
    entries.sorted.map { v =>
      val e = readEntry(fs, table, v)
      (e.version, e.action, e.add.size.toLong, e.remove.size.toLong,
        e.add.map(_.bytes).sum)
    }.toDF("version", "action", "n_added", "n_removed", "bytes_added")
  }

  /* ---------------------------- commits ---------------------------- */

  /** Stage `df` as parquet and move the part files into the table
    * root under fresh UUID names. Files are INVISIBLE until a log
    * entry references them — a crash here leaves orphans for vacuum,
    * never a torn table.
    */
  private def stageData(s: SparkSession, table: String, df: DataFrame): Seq[AddFile] = {
    val fs = fsOf(s, table)
    val staging = new Path(table, s"_staging-${UUID.randomUUID()}")
    df.write.parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val conf = s.sessionState.newHadoopConf()
    val added = parts.flatMap { st =>
      val name = s"data-${UUID.randomUUID()}.parquet"
      val dst = new Path(table, name)
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"failed to move ${st.getPath} into $table")
      val (rows, stats) = footerInfo(conf, dst)
      if (rows == 0L) { fs.delete(dst, false); None } // zero-row parts carry nothing
      else Some(AddFile(name, st.getLen, rows, Some(stats)))
    }.toSeq
    fs.delete(staging, true)
    added
  }

  /** Min/max/null-count per top-level column from the parquet footer
    * (row-group statistics folded per file) — the data-skipping index
    * every lakehouse keeps in its log. Footer-only I/O: a few KB per
    * file at commit time, never a data scan. Columns whose type has
    * no total order here (binary, nested, int96) or whose stats any
    * row group omitted are left out.
    */
  private def footerInfo(conf: org.apache.hadoop.conf.Configuration,
      p: Path): (Long, Map[String, ColStats]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      // per column: (kind, folded Option[(min, max)], null count).
      // An all-null row group contributes nulls but no min/max (legal
      // to merge with normal row groups); a column any row group
      // leaves unclassifiable is poisoned.
      val acc = mutable.Map[String, (String, Option[(String, String)], Long)]()
      val poisoned = mutable.Set[String]()
      val rows = rdr.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      rdr.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val pt = c.getPrimitiveType
            // (kind, stat-string rescaler). Logical-type annotations
            // change what the raw stat MEANS: decimal INT32/INT64 store
            // UNSCALED ints, so comparing them to the scaled literal the
            // predicate carries would prune files that contain matching
            // rows (unsound). Rescale decimals; leave date/time/
            // timestamp-annotated ints unclassified (fail open — their
            // literals never pass numericLit anyway).
            val ann = pt.getLogicalTypeAnnotation
            val kindOpt: Option[(String, String => String)] =
              pt.getPrimitiveTypeName match {
                case INT32 | INT64 => ann match {
                  case null => Some(("long", identity[String] _))
                  case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    Some(("long", identity[String] _))
                  case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                    val sc = d.getScale
                    Some(("long", (raw: String) => new java.math.BigDecimal(
                      new java.math.BigInteger(raw), sc).toPlainString))
                  case _ => None
                }
                case FLOAT | DOUBLE if ann == null =>
                  Some(("double", identity[String] _))
                case BINARY if ann
                    .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                  Some(("string", identity[String] _))
                case _ => None
              }
            // NaN/Infinity stats have no usable total order against
            // BigDecimal bounds — poison rather than crash later
            def finite(k: String): Boolean =
              k != "double" || {
                val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
                val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
                java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi)
              }
            val part: Option[(String, Option[(String, String)], Long)] = kindOpt match {
              case Some((kind, rescale)) if st != null && !st.isEmpty &&
                  st.hasNonNullValue && finite(kind) =>
                val mnmx = kind match {
                  case "string" =>
                    (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                       .toStringUsingUTF8,
                     st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                       .toStringUsingUTF8)
                  case _ => (rescale(st.genericGetMin.toString),
                             rescale(st.genericGetMax.toString))
                }
                Some((kind, Some(mnmx), st.getNumNulls)) // -1 = unknown, kept
              case Some((kind, _)) if st != null && !st.isEmpty &&
                  !st.hasNonNullValue && st.getNumNulls == b.getRowCount =>
                Some((kind, None, b.getRowCount)) // all-null row group
              case _ => None
            }
            part match {
              case None => poisoned += name
              case Some((kind, mnmx, nulls)) =>
                acc.get(name) match {
                  case None => acc(name) = (kind, mnmx, nulls)
                  case Some((k0, prev, n0)) =>
                    val folded = (prev, mnmx) match {
                      case (Some((pmn, pmx)), Some((mn, mx))) => Some((
                        if (statLt(kind, mn, pmn)) mn else pmn,
                        if (statLt(kind, pmx, mx)) mx else pmx))
                      case (a, b2) => a.orElse(b2)
                    }
                    // -1 (unknown null count) is absorbing under +
                    acc(name) = (k0, folded,
                      if (n0 < 0 || nulls < 0) -1L else n0 + nulls)
                }
            }
          }
        }
      }
      poisoned.foreach(acc.remove)
      (rows, acc.map { case (n, (kind, mnmx, nulls)) =>
        n -> (mnmx match {
          case Some((mn, mx)) => ColStats(kind, mn, mx, nulls)
          // no non-null value anywhere in the file: a kind of its own —
          // EVERY comparison prunes it, isNotNull prunes it, isNull keeps it
          case None => ColStats("allnull", "", "", nulls)
        })
      }.toMap)
    } finally rdr.close()
  }

  private def statLt(kind: String, a: String, b: String): Boolean = kind match {
    // UTF8String compares in UTF-8 byte order — the order parquet
    // computed the min/max in; Java String.compareTo (UTF-16 code
    // units) disagrees beyond the BMP and would mis-fold stats
    case "string" =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    case _ => BigDecimal(a) < BigDecimal(b)
  }

  /** Publish one log entry. `expectedBase`: None = commutative commit
    * (append) — retry on a lost race against the new head; Some(v) =
    * the writer's base snapshot — a moved head is a real conflict.
    */
  private def commit(s: SparkSession, table: String, action: String,
      add: Seq[AddFile], remove: Seq[String], schema: Option[String],
      expectedBase: Option[Long], floor: Option[Long] = None,
      txn: Option[(String, Long)] = None,
      dvAdd: Seq[DvFile] = Seq.empty): Long = {
    val fs = fsOf(s, table)
    var attempts = 0
    while (attempts < 1000) {
      val head = currentVersion(s, table)
      // exactly-once guard EVERY iteration, after resolving the head:
      // two concurrent replays of the same (appId, batchId) can both
      // pass appendBatch's entry check; a writer must stand down if a
      // commit >= batchId is already in the log. Checking after head
      // resolution makes this airtight: if our create of head+1
      // succeeds, any competing commit is <= head (this check scanned
      // it) or >= head+2 (that writer's own check scans OUR entry).
      txn.foreach { case (appId, batchId) =>
        if (lastCommittedBatch(s, table, appId).exists(_ >= batchId))
          return currentVersion(s, table)
      }
      expectedBase.foreach { b =>
        if (head != b) throw new ConflictException(
          s"$action based on version $b but head is $head: " +
          "a concurrent commit won; re-read and retry the operation")
      }
      val v = head + 1
      val e = Entry(v, action, add, remove, schema, floor,
        txn.map(_._1), txn.map(_._2),
        if (dvAdd.isEmpty) None else Some(dvAdd))
      if (atomicCreate(fs, entryPath(table, v), renderEntry(e))) {
        if (v % CheckpointInterval == 0 && v > 0) writeCheckpoint(s, fs, table, v)
        return v
      }
      attempts += 1 // append lost the race: loop re-resolves the head
    }
    throw new ConflictException(s"$action could not commit after $attempts races")
  }

  private def writeCheckpoint(s: SparkSession, fs: FileSystem, table: String,
      v: Long): Unit = {
    val snap = snapshotState(s, table, Some(v))
    val (_, checkpoints) = listLog(fs, table)
    val prev = checkpoints.filter(_ < v).sorted.lastOption
    val floor = (prev.map(_ + 1).getOrElse(0L) to v)
      .flatMap(x => readEntry(fs, table, x).floor)
      .foldLeft(prev.map(cv => readCheckpoint(fs, table, cv).floor).getOrElse(0L))(math.max)
    val txns = (prev.map(_ + 1).getOrElse(0L) to v)
      .map(x => readEntry(fs, table, x))
      .foldLeft(prev.flatMap(cv => readCheckpoint(fs, table, cv).txns)
          .getOrElse(Map.empty[String, Long])) { (m, e) =>
        e.txnApp.zip(e.txnBatch).foldLeft(m) { case (m2, (a, b)) =>
          m2.updated(a, math.max(b, m2.getOrElse(a, Long.MinValue)))
        }
      }
    val j: JObject = ("version" -> v) ~ ("schemaDdl" -> snap.schemaDdl) ~
      ("files" -> snap.files.map(renderAdd)) ~
      ("floor" -> floor) ~ ("txns" -> txns) ~
      ("dvs" -> snap.dvs.map(renderDv))
    atomicCreate(fs, checkpointPath(table, v),
      JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8"))
    () // if a racer already wrote it, theirs is identical
  }

  /** Write-compatibility: same column names/types in order; a
    * non-nullable source may feed a nullable table column (subset),
    * never the reverse. Nullable-flag-exact equality would refuse
    * safe writes (Spark marks many derived columns nullable).
    */
  private def requireWriteCompatible(src: StructType, tableDdl: String,
      what: String): Unit = {
    val tbl = StructType.fromDDL(tableDdl)
    val ok = src.fields.length == tbl.fields.length &&
      src.fields.zip(tbl.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType && (!a.nullable || b.nullable)
      }
    require(ok, s"$what schema ${src.toDDL} incompatible with table schema $tableDdl")
  }

  /** Version 0: create the table (errors if it already exists). */
  def create(s: SparkSession, table: String, df: DataFrame): Long = {
    require(currentVersion(s, table) == -1L, s"table already exists: $table")
    val add = stageData(s, table, df)
    commit(s, table, "create", add, Seq.empty, Some(df.schema.toDDL), Some(-1L))
  }

  /** Append-only commit: no base pinned — concurrent appends all
    * succeed in some serial order (they commute).
    */
  def append(s: SparkSession, table: String, df: DataFrame): Long = {
    val cur = snapshotState(s, table)
    requireWriteCompatible(df.schema, cur.schemaDdl, "append")
    val add = stageData(s, table, df)
    commit(s, table, "append", add, Seq.empty, None, None)
  }

  /** Newest batch id this writer (`appId`) ever committed — resolved
    * like the floor: the newest checkpoint's txn map plus the head's
    * log suffix, O(interval) reads.
    */
  def lastCommittedBatch(s: SparkSession, table: String, appId: String): Option[Long] = {
    val fs = fsOf(s, table)
    val (entries, checkpoints) = listLog(fs, table)
    if (entries.isEmpty) return None
    val head = entries.max
    val ckpt = checkpoints.filter(_ <= head).sorted.lastOption
    val base = ckpt.flatMap(cv => readCheckpoint(fs, table, cv).txns)
      .getOrElse(Map.empty[String, Long]).get(appId)
    (ckpt.map(_ + 1).getOrElse(0L) to head).foldLeft(base) { (acc, v) =>
      val e = readEntry(fs, table, v)
      if (e.txnApp.contains(appId))
        Some(math.max(e.txnBatch.get, acc.getOrElse(Long.MinValue)))
      else acc
    }
  }

  /** Idempotent micro-batch append: the exactly-once sink contract.
    * Structured Streaming guarantees `batchId` is replayed with
    * IDENTICAL content after a crash (same offsets range), so "skip
    * if this writer already committed a batch >= batchId" turns
    * at-least-once delivery into exactly-once table content — the
    * same offsets→txn-log protocol as `stream/ExactlyOnceHarness`,
    * enforced at the TABLE layer instead of the sink directory. Use
    * from `foreachBatch { (df, id) => TxLog.appendBatch(s, t, df, app, id) }`.
    */
  def appendBatch(s: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long): Long = {
    val last = lastCommittedBatch(s, table, appId)
    if (last.exists(_ >= batchId)) return currentVersion(s, table) // replay: already in
    val cur = snapshotState(s, table)
    requireWriteCompatible(df.schema, cur.schemaDdl, "appendBatch")
    val add = stageData(s, table, df)
    commit(s, table, "stream-append", add, Seq.empty, None, None,
      txn = Some((appId, batchId)))
  }

  /** Metadata-only schema evolution: publish a new schema whose
    * EXISTING columns are unchanged (same name/type/order; may relax
    * non-null → nullable) and whose NEW columns are nullable — old
    * data files are never rewritten, the parquet reader null-fills
    * columns a file lacks. One log entry, zero data I/O: the way a
    * 100 TB table grows a column. Appends after the evolution write
    * the full new schema; snapshots BEFORE it keep the old one
    * (schema is versioned like data). Stats-based skipping on a new
    * column fails open for pre-evolution files (they carry no stats
    * for it).
    */
  def evolveSchema(s: SparkSession, table: String, newDdl: String): Long = {
    val cur = snapshotState(s, table)
    val curS = StructType.fromDDL(cur.schemaDdl)
    val newS = StructType.fromDDL(newDdl)
    require(newS.fields.length >= curS.fields.length &&
      curS.fields.zip(newS.fields).forall { case (o, n) =>
        o.name == n.name && o.dataType == n.dataType && (!o.nullable || n.nullable)
      }, s"evolution must keep existing columns (name/type/order) intact: " +
         s"${cur.schemaDdl} -> $newDdl")
    require(newS.fields.drop(curS.fields.length).forall(_.nullable),
      "new columns must be nullable: existing files null-fill them")
    commit(s, table, "schema", Seq.empty, Seq.empty, Some(newDdl), Some(cur.version))
  }

  /** Replace the whole table content (schema may change). Conflicts
    * if anything commits between base resolution and publication.
    */
  def overwrite(s: SparkSession, table: String, df: DataFrame): Long = {
    val base = snapshotState(s, table)
    val add = stageData(s, table, df)
    commit(s, table, "overwrite", add, base.files.map(_.path),
      Some(df.schema.toDDL), Some(base.version))
  }

  /** Copy-on-write delete: one distributed scan maps matching rows to
    * their files; only dirty files are rewritten (filtered), clean
    * files are untouched. Commits remove(dirty) + add(rewritten)
    * against the base version.
    */
  def deleteWhere(s: SparkSession, table: String, cond: Column): Long = {
    val base = snapshotState(s, table)
    if (base.files.isEmpty) return base.version
    // file-level skipping measured from the data itself: a per-file
    // match count is one partial-aggregated scan, no stats infra.
    // DV-applied, so an already-DV-deleted match can't dirty a file
    val df = scanWithDvs(s, table, base, base.files, keepMeta = true)
    val dirtyNames = df.filter(cond)
      .select(col(DvFileCol)).groupBy(col(DvFileCol)).count()
      .collect().map(_.getString(0)).toSet
    if (dirtyNames.isEmpty) return base.version
    val dirtyFiles = base.files.filter(f => dirtyNames.contains(f.path))
    // NOT(NULL) is NULL: without the coalesce, rows where the
    // predicate evaluates to NULL would be dropped from rewritten
    // files (while surviving in clean ones) — delete-where must keep
    // exactly the rows the predicate does NOT positively match.
    // Reading through scanWithDvs keeps DV-deleted rows OUT of the
    // rewrite (a raw byte copy would resurrect them)
    val rewritten = scanWithDvs(s, table, base, dirtyFiles)
      .filter(!coalesce(cond, lit(false)))
    val add = stageData(s, table, rewritten)
    commit(s, table, "delete", add, dirtyNames.toSeq.sorted, None, Some(base.version))
  }

  /** Stage a (file, pos) match frame as DV sidecar parquet under
    * `dv-<uuid>.parquet` names. `files` on every part is the commit's
    * distinct referenced-file list (a superset per part is safe — it
    * only delays auto-GC, never resurrects). Returns Nil when the
    * match set is empty.
    */
  private def stageDv(s: SparkSession, table: String,
      matches: DataFrame): Seq[DvFile] = {
    val fs = fsOf(s, table)
    val referenced = matches.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (referenced.isEmpty) return Seq.empty
    val staging = new Path(table, s"_staging-${UUID.randomUUID()}")
    // delete-batch-sized; sort by (file, pos) so each part covers a
    // contiguous slice and parquet stats stay tight
    matches.repartitionByRange(col("file"), col("pos"))
      .sortWithinPartitions(col("file"), col("pos"))
      .write.parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val conf = s.sessionState.newHadoopConf()
    val added = parts.flatMap { st =>
      val name = s"dv-${UUID.randomUUID()}.parquet"
      val dst = new Path(table, name)
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"failed to move ${st.getPath} into $table")
      val (rows, _) = footerInfo(conf, dst)
      if (rows == 0L) { fs.delete(dst, false); None }
      else Some(DvFile(name, referenced, rows, st.getLen))
    }.toSeq
    fs.delete(staging, true)
    added
  }

  /** Merge-on-read delete (the Delta-DV / Iceberg-positional-delete
    * design, published): instead of rewriting every file containing a
    * match (copy-on-write — table-sized writes when matches are
    * dispersed, see BASELINE's merge_skew line), write a
    * delete-batch-sized SIDECAR of (file, row position) pairs and
    * subtract it at scan time. Candidate files come from the same
    * stats pruning as [[readWhere]]; positions are the scan's
    * `_metadata.row_index`, the same coordinates the read path
    * subtracts in. Already-DV-deleted rows never re-enter a sidecar
    * (the match scan is DV-applied). NULL semantics match
    * [[deleteWhere]]: only rows the predicate POSITIVELY matches are
    * deleted. [[compact]] / [[applyDvs]] / [[cluster]] fold sidecars
    * back into data files; until then every read pays the anti-join —
    * the classic write-amplification ↔ read-amplification trade, now
    * available on both ends.
    */
  def deleteWhereMor(s: SparkSession, table: String, cond: Column): Long = {
    val base = snapshotState(s, table)
    if (base.files.isEmpty) return base.version
    val (cand, _) = pruneSnapshot(base, cond)
    if (cand.isEmpty) return base.version
    val matches = scanWithDvs(s, table, base, cand, keepMeta = true)
      .filter(cond)
      .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
    val dvs = stageDv(s, table, matches)
    if (dvs.isEmpty) return base.version
    commit(s, table, "mor-delete", Seq.empty, Seq.empty, None,
      Some(base.version), dvAdd = dvs)
  }

  /** Merge-on-read keyed upsert: matched target rows are DV-deleted
    * in place and ALL source rows append as new files — writes are
    * O(batch + sidecar) regardless of how the batch's keys disperse
    * over the table, where [[merge]] (copy-on-write) rewrites every
    * dirty file (≈ the whole table for a Zipf-tailed batch —
    * BASELINE's merge_skew measurement is the motivating number).
    * Same contract as [[merge]] otherwise: unique-key source
    * enforced, conflict on a moved base.
    */
  def mergeMor(s: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires key columns")
    val base = snapshotState(s, table)
    requireWriteCompatible(source.schema, base.schemaDdl, "merge source")
    val src = source.cache()
    try {
      val dupes = src.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dupes.isEmpty,
        s"merge source is not unique on (${keyCols.mkString(",")}): ${dupes.headOption}")
      if (src.isEmpty) return base.version
      val candidates: Seq[AddFile] =
        if (keyCols.size == 1) {
          val k = keyCols.head
          val mm = src.agg(min(col(k)).as("lo"), max(col(k)).as("hi")).head()
          if (mm.isNullAt(0)) Seq.empty
          else pruneSnapshot(base,
            col(k) >= lit(mm.get(0)) && col(k) <= lit(mm.get(1)))._1
        } else base.files
      val matches =
        if (candidates.isEmpty) null
        else scanWithDvs(s, table, base, candidates, keepMeta = true)
          .join(src.select(keyCols.map(col): _*), keyCols, "left_semi")
          .select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
      val dvs = if (matches == null) Seq.empty else stageDv(s, table, matches)
      val add = stageData(s, table, src)
      commit(s, table, "mor-merge", add, Seq.empty, None, Some(base.version),
        dvAdd = dvs)
    } finally { src.unpersist(); () }
  }

  /** Fold every live deletion vector back into data files: rewrite
    * each file a live sidecar references (DV-applied scan), after
    * which the sidecars reference no live file and auto-GC out of the
    * snapshot (vacuum reclaims the physical parquet later). The
    * maintenance op that bounds read-side anti-join cost; a no-op
    * when no DVs are live.
    */
  def applyDvs(s: SparkSession, table: String): Long = {
    val base = snapshotState(s, table)
    if (base.dvs.isEmpty) return base.version
    val liveNames = base.files.map(_.path).toSet
    val dirty = base.dvs.flatMap(_.files).distinct.filter(liveNames.contains)
    val dirtyFiles = base.files.filter(f => dirty.contains(f.path))
    val add = stageData(s, table, scanWithDvs(s, table, base, dirtyFiles))
    commit(s, table, "mor-apply", add, dirty.sorted, None, Some(base.version))
  }

  /** Keyed MERGE (upsert): every `source` row lands in the table —
    * replacing the existing row where the key matches, inserted
    * otherwise. Copy-on-write at file grain, with THREE narrowing
    * stages so a small CDC batch never rewrites a large table:
    *  1. stats pre-prune — for a single-column key, the source's key
    *     min/max (one tiny agg) excludes every file whose logged
    *     range can't intersect;
    *  2. one semi-join over only the candidate files maps actual key
    *     matches to their files (`input_file_name`);
    *  3. only those dirty files are rewritten (survivors ∪ source).
    * Requires `source` unique on the key (checked — duplicate-key
    * merges are order-dependent and therefore refused loudly).
    */
  def merge(s: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires key columns")
    val base = snapshotState(s, table)
    requireWriteCompatible(source.schema, base.schemaDdl, "merge source")
    val src = source.cache()
    try {
      val dupes = src.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dupes.isEmpty,
        s"merge source is not unique on (${keyCols.mkString(",")}): ${dupes.headOption}")

      // stage 1: stats pre-prune on a single-column key
      val candidates: Seq[AddFile] =
        if (keyCols.size == 1) {
          val k = keyCols.head
          val mm = src.agg(min(col(k)).as("lo"), max(col(k)).as("hi")).head()
          if (mm.isNullAt(0)) Seq.empty
          else pruneSnapshot(base,
            col(k) >= lit(mm.get(0)) && col(k) <= lit(mm.get(1)))._1
        } else base.files

      if (src.isEmpty) return base.version

      // stage 2: actual matches -> dirty files, over the DV-applied
      // scan (an already-DV-deleted row must not dirty its file); the
      // file tag comes from the scan's _metadata, evaluated BELOW the
      // semi join
      val dirtyNames: Set[String] =
        if (candidates.isEmpty) Set.empty
        else scanWithDvs(s, table, base, candidates, keepMeta = true)
          .select((keyCols.map(col) :+ col(DvFileCol).as("__file")): _*)
          .join(src.select(keyCols.map(col): _*), keyCols, "left_semi")
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet

      // stage 3: rewrite dirty survivors + ALL source rows. The
      // survivors read goes through scanWithDvs so DV-deleted rows
      // stay deleted in the rewritten files
      val survivors =
        if (dirtyNames.isEmpty) src.limit(0)
        else scanWithDvs(s, table, base,
            base.files.filter(f => dirtyNames.contains(f.path)))
          .join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
      val add = stageData(s, table, survivors.unionByName(src))
      commit(s, table, "merge", add, dirtyNames.toSeq.sorted, None, Some(base.version))
    } finally { src.unpersist(); () }
  }

  /** Bin-pack files smaller than `targetBytes` into ~target-sized
    * ones. Pure rewrite: rows identical, readers of old versions
    * unaffected (their files remain until vacuum).
    */
  def compact(s: SparkSession, table: String, targetBytes: Long): Long = {
    val base = snapshotState(s, table)
    val small = base.files.filter(_.bytes < targetBytes)
    if (small.size <= 1) return base.version
    // DV-applied read: compacting a DV'd file folds its deletions in
    // (the rewritten file has no DV rows; the sidecar auto-GCs once
    // all its files are rewritten) — a raw byte copy would resurrect
    val df = scanWithDvs(s, table, base, small)
    val nOut = math.max(1L, (small.map(_.bytes).sum + targetBytes - 1) / targetBytes).toInt
    val add = stageData(s, table, df.repartition(nOut))
    commit(s, table, "compact", add, small.map(_.path), None, Some(base.version))
  }

  /** Z-order clustering rewrite: lay the table out along the Morton
    * interleave of two numeric columns so FILE-LEVEL min/max stats
    * become selective on EITHER column (a single-column sort helps
    * only itself; the space-filling curve bounds the file band both
    * ways — same layout idea as `zorder_key`, `ScalarOps.scala:139`,
    * applied to the table's physical files). Buckets are equal-width
    * over each column's observed min/max (one aggregate — no global
    * sort, no window): rank-exact equal-depth buckets would need a
    * per-column global sort for marginal skipping gain. Content is
    * identical by construction; only the row→file mapping changes
    * (action "cluster", a pure rewrite like compact).
    */
  def cluster(s: SparkSession, table: String, c1: String, c2: String,
      nFiles: Int): Long = {
    val base = snapshotState(s, table)
    if (base.files.isEmpty) return base.version
    // DV-applied: a cluster rewrite folds pending deletions in
    val df = scanWithDvs(s, table, base, base.files)
    val mm = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    val (lo1, hi1, lo2, hi2) =
      (mm.getDouble(0), mm.getDouble(1), mm.getDouble(2), mm.getDouble(3))
    val bits = 8 // 256 buckets per column; 65536 z-cells
    def bucket(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit((1 << bits) - 1), greatest(lit(0),
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(1 << bits))))
        .cast("long")
    val (b1, b2) = (bucket(c1, lo1, hi1), bucket(c2, lo2, hi2))
    val zkey = (0 until bits).map { i =>
      shiftleft(shiftright(b1, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(b2, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
    val add = stageData(s, table,
      df.repartitionByRange(math.max(1, nFiles), zkey)
        .sortWithinPartitions(zkey))
    commit(s, table, "cluster", add, base.files.map(_.path), None, Some(base.version))
  }

  /** Delete data files unreachable from the retained versions
    * (last `keepVersions`, at least the head) plus any orphans no log
    * entry ever referenced (crashed commits). Publishes the new
    * retention floor; reads below it fail loudly thereafter.
    *
    * Concurrent-reader ordering argument (TxLogSpec pins both arms):
    * the floor entry commits BEFORE any file is deleted, so a reader
    * that resolves a pre-floor version after the commit is refused up
    * front by `snapshotState`'s floor check; a reader that resolved
    * BEFORE the commit holds a fixed file list, and if vacuum then
    * deletes from under its scan, the missing input is a task-level
    * FileNotFoundException that fails the whole job (Spark's
    * `ignoreMissingFiles` is off by default and this source never
    * enables it) — loud failure in both interleavings, never a
    * silent partial result.
    */
  /** Unreferenced files younger than this are presumed to belong to
    * an IN-FLIGHT commit (data moves in before the log entry
    * publishes) and are left alone — the same modification-time
    * retention guard Delta's VACUUM uses. Pass `minAgeMs = 0` only
    * when no concurrent writer can exist (tests, single-writer
    * maintenance windows).
    */
  val DefaultVacuumMinAgeMs: Long = 15L * 60 * 1000

  def vacuum(s: SparkSession, table: String, keepVersions: Int,
      minAgeMs: Long = DefaultVacuumMinAgeMs): Long = {
    val fs = fsOf(s, table)
    val (entries, checkpoints) = listLog(fs, table)
    require(entries.nonEmpty, s"not a txlog table: $table")
    val head = entries.max
    // never regress an already-published floor: retained iteration
    // below the old floor would (rightly) refuse to resolve
    val floor = math.max(resolveFloor(fs, table, entries, checkpoints),
      math.max(0L, head - math.max(1, keepVersions) + 1))
    val retained = (floor to head)
      .flatMap { v =>
        val snap = snapshotState(s, table, Some(v))
        snap.files.map(_.path) ++ snap.dvs.map(_.path)
      }.toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, minAgeMs)
    val listing = fs.listStatus(new Path(table))
    // stale staging dirs (crashed writes) — age-guarded like the data
    // files, so a concurrent writer's live staging dir survives
    listing.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_staging-") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val doomed = listing
      .filter(st => !st.isDirectory && st.getModificationTime < cutoff)
      .map(_.getPath.getName)
      .filter(n => (n.startsWith("data-") || n.startsWith("dv-")) &&
        n.endsWith(".parquet"))
      .filterNot(retained.contains)
    // publish the floor FIRST: a reader that resolves an old version
    // after its files are gone must see the floor, not a missing file
    val v = commit(s, table, "vacuum", Seq.empty, Seq.empty, None, None, Some(floor))
    doomed.foreach(n => fs.delete(new Path(table, n), false))
    v
  }

  /* ----------------------- registry fixture ------------------------ */

  /** Deterministic multi-version table from `events` (event_id
    * residues mod 5 arrive over three commits; a mod-7 slice is then
    * deleted copy-on-write; compaction rewrites the small files; a
    * final append lands after the delete) — so each version's content
    * is a closed-form predicate DuckDB can evaluate from the raw
    * parquet. The `ts` column travels as epoch micros (BIGINT).
    */
  private def fixture(s: SparkSession, dir: String): String =
    Staged.dir("txlog", dir) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
      def slice(r: Int*) = ev.filter(pmod(col("event_id"), lit(5)).isin(r.map(Int.box): _*))
      // range-clustered on event_id: each commit's files cover
      // disjoint id ranges, so the footer-stats skipping path has
      // something to skip (the production layout for a scan-heavy key)
      create(s, out, slice(0).repartitionByRange(4, col("event_id")))    // v0
      append(s, out, slice(1).repartitionByRange(3, col("event_id")))    // v1
      append(s, out, slice(2, 3).repartitionByRange(4, col("event_id"))) // v2
      deleteWhere(s, out, pmod(col("event_id"), lit(7)) === 0)           // v3
      compact(s, out, 1L << 30)                                          // v4: everything binpacks
      append(s, out, slice(4).repartitionByRange(2, col("event_id")))    // v5
      vacuum(s, out, keepVersions = 6)                                   // v6: keeps v1+; orphans only
    }

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"),
        min(col("ts_us")).as("min_ts"),
        max(col("ts_us")).as("max_ts"))

  /** Time travel to v2 — BEFORE the delete/compact/append — must see
    * exactly the first three commits' slices.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, fixture(s, dir), asOf = Some(2L)))

  private val timeTravelOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events WHERE event_id % 5 <= 3 GROUP BY event_type""".stripMargin

  /** Head read — the delete (applied to residues 0–3 only; residue 4
    * arrived after it), the content-preserving compaction, and the
    * final append all folded in.
    */
  def headRead(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, fixture(s, dir)))

  private val headOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events
      |WHERE event_id % 5 = 4 OR NOT (event_id % 7 = 0)
      |GROUP BY event_type""".stripMargin

  /** Separate merge fixture (the shared fixture's versions are
    * pinned by the time-travel oracle): a range-clustered base of the
    * mod-3-residue-0 events, then ONE upsert batch — residue-0 rows
    * at mod-13 get value doubled (updates), residue-1 rows at mod-13
    * arrive new (inserts) — closed-form for the DuckDB oracle.
    */
  private def mergeFixture(s: SparkSession, dir: String): String =
    Staged.dir("txlog-merge", dir) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
      create(s, out, ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .repartitionByRange(4, col("event_id")))
      val updates = ev
        .filter(pmod(col("event_id"), lit(3)) === 0 &&
          pmod(col("event_id"), lit(13)) === 0)
        .withColumn("value", col("value") * 2)
      val inserts = ev
        .filter(pmod(col("event_id"), lit(3)) === 1 &&
          pmod(col("event_id"), lit(13)) === 0)
      merge(s, out, updates.unionByName(inserts), Seq("event_id"))
    }

  def mergeRead(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, mergeFixture(s, dir)))

  /** Cluster fixture: the even-id events slice, Z-order-rewritten on
    * (user_id, value). The oracle sees the slice unchanged — the gate
    * proves the layout rewrite lost/duplicated/altered nothing, which
    * is the correctness obligation of a physical-only operation.
    */
  private def clusterFixture(s: SparkSession, dir: String): String =
    Staged.dir("txlog-cluster", dir) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
      create(s, out, ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .repartitionByRange(4, col("event_id")))
      cluster(s, out, "user_id", "value", 8)
    }

  def clusterRead(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, clusterFixture(s, dir)))

  /** Evolution fixture: the mod-3-residue-2 slice arrives BEFORE the
    * table has an event_type column; one metadata-only evolution adds
    * it; the residue-1 slice arrives after, with values. The read
    * groups on the null-filled column, so a wrong fill — or a rewrite
    * where none should happen — flips the oracle.
    */
  private def evolveFixture(s: SparkSession, dir: String): String =
    Staged.dir("txlog-evolve", dir) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
      create(s, out, ev.filter(pmod(col("event_id"), lit(3)) === 2)
        .repartitionByRange(3, col("event_id")))                     // v0: legacy shape
      val evolved = snapshotState(s, out).schemaDdl + ",event_type STRING"
      evolveSchema(s, out, evolved)                                  // v1: + event_type
      append(s, out, Tables.events(s, dir)
        .filter(pmod(col("event_id"), lit(3)) === 1)
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")))    // v2
    }

  def evolveRead(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, evolveFixture(s, dir))
      .withColumn("event_type", coalesce(col("event_type"), lit("legacy"))))

  private val evolveOracle =
    """SELECT coalesce(CASE WHEN event_id % 3 = 1 THEN event_type END, 'legacy')
      |    AS event_type,
      |  COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events WHERE event_id % 3 IN (1, 2) GROUP BY 1""".stripMargin

  private val clusterOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events WHERE event_id % 2 = 0 GROUP BY event_type""".stripMargin

  private val mergeOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(min_ts) AS min_ts, MAX(max_ts) AS max_ts
      |FROM (
      |  SELECT event_type,
      |    CASE WHEN event_id % 13 = 0 THEN value * 2 ELSE value END AS value,
      |    epoch_us(ts) AS min_ts, epoch_us(ts) AS max_ts
      |  FROM events WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT event_type, value, epoch_us(ts), epoch_us(ts)
      |  FROM events WHERE event_id % 3 = 1 AND event_id % 13 = 0
      |) GROUP BY event_type""".stripMargin

  /** Change feed v2 → head over the shared fixture: the v3 delete
    * (mod-7 rows of residues 0–3) surfaces as deletes, the v5 append
    * (residue 4) as inserts, and the v4 compaction contributes
    * NOTHING (pure rewrite) — which is exactly what the oracle
    * checks. Aggregated per (event_type, change_type).
    */
  def changesRead(s: SparkSession, dir: String): DataFrame =
    changes(s, fixture(s, dir), 2L, currentVersion(s, fixture(s, dir)))
      .groupBy(col("event_type"), col("change_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))

  private val changesOracle =
    """SELECT event_type, change_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      |FROM (
      |  SELECT event_type, 'insert' AS change_type, value
      |  FROM events WHERE event_id % 5 = 4
      |  UNION ALL
      |  SELECT event_type, 'delete', value
      |  FROM events WHERE event_id % 5 <= 3 AND event_id % 7 = 0
      |) GROUP BY event_type, change_type""".stripMargin

  /** Stats-pruned scan at v2: the predicate reaches the file list
    * (footer min/max excludes the id ranges above 500) AND the rows
    * (ordinary filter) — the differential gate checks the rows; the
    * spec checks files were actually skipped.
    */
  def skippingRead(s: SparkSession, dir: String): DataFrame =
    rollup(readWhere(s, fixture(s, dir), col("event_id") < 500, asOf = Some(2L)))

  private val skippingOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events WHERE event_id % 5 <= 3 AND event_id < 500
      |GROUP BY event_type""".stripMargin

  /** Merge-on-read fixture: the full events table, then a DV delete
    * of the mod-7 slice (v1 — no data file rewritten, one sidecar),
    * then a MOR keyed merge (v2): updates (value × 2) for the mod-13
    * slice — whose mod-7 members were DV-deleted and therefore
    * REINSERT — plus the appended source files. Every version's
    * content is closed-form over `events` for the oracle.
    */
  private def morFixture(s: SparkSession, dir: String): String =
    Staged.dir("txlog-mor", dir) { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
      create(s, out, ev.repartitionByRange(6, col("event_id")))        // v0
      deleteWhereMor(s, out, pmod(col("event_id"), lit(7)) === 0)      // v1: DV only
      mergeMor(s, out, ev.filter(pmod(col("event_id"), lit(13)) === 0)
        .withColumn("value", col("value") * 2), Seq("event_id"))       // v2: DV + append
    }

  /** Head read of the MOR fixture: deletions and upserts both applied
    * purely at scan time (no data file was ever rewritten — the spec
    * pins that; this entry pins the CONTENT).
    */
  def morRead(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, morFixture(s, dir)))

  private val morOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(min_ts) AS min_ts, MAX(max_ts) AS max_ts
      |FROM (
      |  SELECT event_type, value * 2 AS value,
      |    epoch_us(ts) AS min_ts, epoch_us(ts) AS max_ts
      |  FROM events WHERE event_id % 13 = 0
      |  UNION ALL
      |  SELECT event_type, value, epoch_us(ts), epoch_us(ts)
      |  FROM events WHERE event_id % 7 <> 0 AND event_id % 13 <> 0
      |) GROUP BY event_type""".stripMargin

  /** Time travel to v1 — after the DV delete, before the merge: the
    * deletion must subtract at this version and ONLY rows of the
    * mod-7 slice.
    */
  def morTravel(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, morFixture(s, dir), asOf = Some(1L)))

  private val morTravelOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts, MAX(epoch_us(ts)) AS max_ts
      |FROM events WHERE event_id % 7 <> 0 GROUP BY event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("txlog_time_travel", timeTravelOracle)(timeTravel),
    Q("txlog_head", headOracle)(headRead),
    Q("txlog_skipping", skippingOracle)(skippingRead),
    Q("txlog_merge", mergeOracle)(mergeRead),
    Q("txlog_cluster", clusterOracle)(clusterRead),
    Q("txlog_changes", changesOracle)(changesRead),
    Q("txlog_evolve", evolveOracle)(evolveRead),
    Q("txlog_mor_delete", morTravelOracle)(morTravel),
    Q("txlog_mor_merge", morOracle)(morRead),
  )
}
