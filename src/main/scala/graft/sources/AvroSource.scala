package graft.sources

import java.net.URI
import java.nio.ByteBuffer
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalType, LogicalTypes, Schema => AvroSchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Avro source/sink as a DataSource V2, built directly on the Avro
  * core library that ships inside the Spark distribution
  * (`avro-1.12.1.jar` — the `spark-avro` CONNECTOR jar is absent from
  * this offline container, which is what kept the format uncovered
  * through round 9; the container-file API underneath it is right
  * there). Covers the "other formats" row of SURVEY.md §2.1 alongside
  * csv/json/orc/xml/jdbc.
  *
  * Scale shape — the two properties that make Avro usable as a 100 TB
  * ingest format are both implemented, not assumed:
  *
  *  - '''Byte-range splits.''' An Avro object container file is a
  *    sequence of independently-compressed blocks delimited by a
  *    16-byte sync marker, so one large file fans out to many tasks
  *    exactly like parquet row groups: each task seeks to its range
  *    start, scans to the next sync marker (`DataFileReader.sync`),
  *    and reads whole blocks until the first sync PAST its range end
  *    (`pastSync`). Every block is read by exactly one task and no
  *    task reads the whole file. Split size follows the session's
  *    `spark.sql.files.maxPartitionBytes` (overridable per-read with
  *    option `split.bytes`).
  *
  *  - '''Column pruning at the decoder.''' Avro is a row format, so
  *    pruning cannot skip I/O the way a columnar scan does — but the
  *    Avro spec's schema-resolution rules let a reader schema that
  *    omits fields skip their bytes without materializing values
  *    (no string/array allocation for dropped columns). The scan
  *    implements `SupportsPushDownRequiredColumns` and builds the
  *    per-file reader schema as a PROJECTION of that file's writer
  *    schema (same field schemas, pruned field set), so resolution
  *    never has to reconcile two independently-derived types.
  *
  * Type matrix (strict — anything else fails loudly at schema
  * conversion, never silently coerces): boolean/int/long/float/
  * double/string/bytes, nullable as the Avro idiom `union(null, T)`,
  * `timestamp-micros` ↔ TimestampType and `date` ↔ DateType logical
  * types (both exactly Spark's internal representation — micros /
  * days since epoch — so conversion is the identity), and
  * one-dimensional arrays of all of the above.
  *
  * Commit protocol: writers stage to `.part-…-<uuid>.avro.inprogress`
  * and report the staged path in their commit message; files become
  * visible only at `BatchWrite.commit`, where the DRIVER renames every
  * staged file to its final name (rename is atomic per file on HDFS
  * and local filesystems; Spark's output commit coordinator guarantees
  * a single committing attempt per partition). A job that fails after
  * some tasks committed therefore publishes NOTHING — job abort (and
  * any rename failure, which rolls back files it already published)
  * deletes the staged files — matching the job-commit visibility of
  * Spark's own file sinks. `mode("overwrite")` maps to V2 truncate,
  * which clears the directory on the driver before tasks launch —
  * directory-level overwrite is not atomic (same contract as Spark's
  * own file sinks without a commit log).
  */
class AvroSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avro"

  // lets .schema(...) reads and writes to not-yet-existing paths
  // bypass inference
  override def supportsExternalMetadata(): Boolean = true

  /** Table schema = union-by-name over every file's WRITER schema
    * (Avro schema-resolution evolution: a directory accumulates files
    * from drifted producers — added/dropped nullable fields — and the
    * table exposes all of them, null-filling where a file lacks one).
    * Same-name fields must agree on type (strict, loud). Header reads
    * are O(files) driver-side; a production table records its schema
    * in a catalog/commit log instead — `.schema(...)` bypasses this.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = AvroSource.requirePath(options)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = AvroSource.listAvroFiles(path, conf)
    if (files.isEmpty) new StructType() // write to a fresh dir: schema comes from the query
    else {
      val perFile = files.map { f =>
        val in = new FsInput(f.getPath, conf)
        try {
          val r = new DataFileReader(in, new GenericDatumReader[GenericRecord]())
          try AvroConversions.toStructType(r.getSchema)
          finally r.close()
        } finally in.close()
      }
      AvroConversions.mergeSchemas(perFile)
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AvroTable(schema, properties.get("path"))
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this is the
  * standard wrapper (the upstream `SerializableConfiguration` is
  * `private[spark]`) so executors see the DRIVER's session conf —
  * S3A credentials, custom defaultFS, kerberos — instead of a bare
  * `new Configuration()` that only resolves local defaults.
  */
private[sources] class SerializableConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] object AvroSource {
  def requirePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-avro requires a single path (load(dir) / save(dir))")
    p
  }

  /** Visible data files under `path` (recursing one partition-dir
    * level is not needed for this source; hidden and marker files are
    * skipped the way FileIndex does).
    */
  def listAvroFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    if (!fs.exists(p)) return Seq.empty
    val out = ArrayBuffer[FileStatus]()
    val stack = scala.collection.mutable.Stack[Path](p)
    while (stack.nonEmpty) {
      val cur = stack.pop()
      fs.listStatus(cur).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) stack.push(st.getPath)
          else if (st.getLen > 0 && n.endsWith(".avro")) out += st
        }
      }
    }
    out.sortBy(_.getPath.toString).toSeq
  }
}

private[sources] class AvroTable(tableSchema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-avro:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      // the write schema is the query's schema (validated by our own
      // strict type conversion), not a pre-declared table schema —
      // required because a fresh output dir has nothing to infer from
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(tableSchema, path, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(info, path)
}

/* ----------------------------- read side ----------------------------- */

private[sources] class AvroScanBuilder(fullSchema: StructType, path: String,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // default split granularity follows the session knob every other
    // file source obeys, so tuning maxPartitionBytes tunes this scan too
    val dflt = JavaUtils.byteStringAsBytes(
      SparkSession.active.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val split = Option(options.get("split.bytes")).map(_.toLong).getOrElse(dflt)
    new AvroScan(required, path, math.max(split, 1L << 16))
  }
}

private[sources] case class AvroRange(file: String, start: Long, length: Long)
    extends InputPartition

private[sources] class AvroScan(readSchemaV: StructType, path: String,
    splitBytes: Long) extends Scan with Batch {
  override def readSchema(): StructType = readSchemaV
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro $path ReadSchema: ${readSchemaV.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    AvroSource.listAvroFiles(path, conf).iterator.flatMap { st =>
      (0L until st.getLen by splitBytes).map { off =>
        AvroRange(st.getPath.toString, off, math.min(splitBytes, st.getLen - off))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(readSchemaV,
      new SerializableConf(SparkSession.active.sessionState.newHadoopConf()))
}

private[sources] class AvroReaderFactory(readSchema: StructType,
    conf: SerializableConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroRangeReader(partition.asInstanceOf[AvroRange], readSchema, conf.value)
}

/** Reads the blocks of one byte range of one container file: sync to
  * the first block at/after `start`, stop at the first sync past
  * `start + length`. The Hadoop conf is the DRIVER's session conf,
  * shipped via [[SerializableConf]], so conf-dependent filesystems
  * (S3A credentials, custom defaultFS) resolve on executors too.
  */
private[sources] class AvroRangeReader(range: AvroRange, schema: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {
  private val in = new FsInput(new Path(range.file), conf)
  private val projected: AvroSchema = {
    val r = new DataFileReader(in, new GenericDatumReader[GenericRecord]())
    try AvroConversions.projectWriterSchema(r.getSchema, schema)
    finally r.close()
  }
  private val reader: DataFileReader[GenericRecord] = {
    // reopen with the projecting datum reader
    val in2 = new FsInput(new Path(range.file), conf)
    val rr = new DataFileReader[GenericRecord](
      in2, new GenericDatumReader[GenericRecord](null, projected))
    rr.sync(range.start)
    rr
  }
  private val end = range.start + range.length
  private val converters = schema.fields.zipWithIndex.map { case (f, i) =>
    AvroConversions.readConverter(f.dataType,
      AvroConversions.nonNull(projected.getFields.get(i).schema()))
  }
  private var record: GenericRecord = null
  private var row: InternalRow = null

  override def next(): Boolean = {
    if (reader.hasNext && !reader.pastSync(end)) {
      record = reader.next(record)
      val vals = new Array[Any](converters.length)
      var i = 0
      while (i < converters.length) {
        vals(i) = converters(i)(record.get(i)); i += 1
      }
      row = new GenericInternalRow(vals)
      true
    } else false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close() // closes in2; in closed above
}

/* ----------------------------- write side ---------------------------- */

private[sources] class AvroWriteBuilder(info: LogicalWriteInfo, path: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new AvroWrite(info, path, doTruncate)
}

private[sources] class AvroWrite(info: LogicalWriteInfo, path: String,
    doTruncate: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-avro write $path"

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task launches: clear for overwrite,
    // ensure the dir exists (tasks only ever create files)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, conf)
    if (doTruncate && fs.exists(dir)) {
      fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
    }
    fs.mkdirs(dir)
    val avroSchema = AvroConversions.toAvroSchema(info.schema())
    val codec = Option(info.options().get("codec")).getOrElse("deflate")
    val syncBytes = Option(info.options().get("sync.bytes")).map(_.toInt).getOrElse(64 << 10)
    new AvroWriterFactory(path, info.schema(), avroSchema.toString, codec, syncBytes,
      new SerializableConf(conf))
  }

  /** Publish point: rename every staged file to its final name,
    * driver-side. Before this, the directory holds only hidden
    * `.inprogress` files (invisible to readers) — so a job that fails
    * after some TASKS committed publishes nothing. A rename failure
    * rolls back the files this commit already published, then throws
    * (Spark calls `abort`, which clears the remaining staged files).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = FileSystem.get(new Path(path).toUri, conf)
    val published = ArrayBuffer[Path]()
    messages.foreach { case AvroCommit(stage, dest) =>
      val (s, d) = (new Path(stage), new Path(dest))
      if (!fs.rename(s, d)) {
        published.foreach(p => fs.delete(p, false))
        throw new java.io.IOException(s"graft-avro commit: rename $s -> $d failed")
      }
      published += d
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, conf)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (st.getPath.getName.endsWith(".inprogress")) { fs.delete(st.getPath, false); () }
    }
  }
}

private[sources] case class AvroCommit(stage: String, dest: String)
    extends WriterCommitMessage

private[sources] class AvroWriterFactory(path: String, schema: StructType,
    avroSchemaJson: String, codec: String, syncBytes: Int, conf: SerializableConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(path, schema, avroSchemaJson, codec, syncBytes,
      partitionId, taskId, conf.value)
}

private[sources] class AvroDataWriter(dir: String, schema: StructType,
    avroSchemaJson: String, codec: String, syncBytes: Int,
    partitionId: Int, taskId: Long, hconf: Configuration) extends DataWriter[InternalRow] {
  private val avroSchema = new AvroSchema.Parser().parse(avroSchemaJson)
  private val fs = FileSystem.get(URI.create(dir), hconf)
  private val finalPath =
    new Path(dir, f"part-$partitionId%05d-$taskId.avro")
  private val stagePath =
    new Path(dir, f".part-$partitionId%05d-${UUID.randomUUID()}.avro.inprogress")
  private val converters = schema.fields.zipWithIndex.map { case (f, i) =>
    AvroConversions.writeConverter(f.dataType,
      AvroConversions.nonNull(avroSchema.getFields.get(i).schema()))
  }
  private val writer = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(codec match {
      case "null" | "none" => CodecFactory.nullCodec()
      case "snappy"        => CodecFactory.snappyCodec()
      case "deflate"       => CodecFactory.deflateCodec(6)
      case "zstandard"     => CodecFactory.zstandardCodec(3)
      case other => throw new IllegalArgumentException(s"unsupported codec: $other")
    })
    w.setSyncInterval(math.max(syncBytes, 1 << 10))
    w.create(avroSchema, fs.create(stagePath, true))
  }

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < converters.length) {
      rec.put(i, if (row.isNullAt(i)) null else converters(i)(row, i))
      i += 1
    }
    writer.append(rec)
    ()
  }

  override def commit(): WriterCommitMessage = {
    // publish NOTHING here: the file stays .inprogress (hidden) until
    // BatchWrite.commit renames it on the driver — task commit only
    // seals the bytes and reports where they are
    writer.close()
    AvroCommit(stagePath.toString, finalPath.toString)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: java.io.IOException => () }
    fs.delete(stagePath, false)
    ()
  }

  override def close(): Unit = ()
}

/* --------------------------- conversions ----------------------------- */

/** The Catalyst ↔ Avro type matrix. Deliberately strict and total
  * over the documented subset: an unsupported Avro schema (enum,
  * fixed, map, multi-branch union, unknown logical type) or Catalyst
  * type (struct, map, decimal) throws at conversion time with the
  * offending type in the message — never a silent coercion, which on
  * a 100 TB ingest is how type drift becomes data loss.
  */
private[sources] object AvroConversions {
  import AvroSchema.Type._

  /** Avro writer schema (a record) → StructType, for inference. */
  def toStructType(s: AvroSchema): StructType = {
    require(s.getType == RECORD, s"graft-avro: top-level schema must be a record, got ${s.getType}")
    StructType(s.getFields.asScala.map { f =>
      val (dt, nullable) = toCatalyst(f.schema())
      StructField(f.name(), dt, nullable)
    }.toArray)
  }

  private def toCatalyst(s: AvroSchema): (DataType, Boolean) = s.getType match {
    case UNION =>
      val branches = s.getTypes.asScala
      require(branches.size == 2 && branches.exists(_.getType == NULL),
        s"graft-avro: only union(null, T) unions are supported, got $s")
      val inner = branches.find(_.getType != NULL).get
      val (dt, _) = toCatalyst(inner)
      (dt, true)
    case BOOLEAN => (BooleanType, false)
    case INT =>
      if (isLogical(s, "date")) (DateType, false)
      else if (s.getLogicalType != null) // e.g. time-millis — not int data
        throw new IllegalArgumentException(
          s"graft-avro: unsupported logical type ${s.getLogicalType.getName} on int")
      else (IntegerType, false)
    case LONG =>
      if (isLogical(s, "timestamp-micros")) (TimestampType, false)
      else if (s.getLogicalType != null)
        throw new IllegalArgumentException(
          s"graft-avro: unsupported logical type ${s.getLogicalType.getName} on long")
      else (LongType, false)
    case FLOAT  => (FloatType, false)
    case DOUBLE => (DoubleType, false)
    case STRING => (StringType, false)
    case BYTES =>
      if (s.getLogicalType != null) // e.g. decimal — raw unscaled bytes are NOT the value
        throw new IllegalArgumentException(
          s"graft-avro: unsupported logical type ${s.getLogicalType.getName} on bytes")
      else (BinaryType, false)
    case ARRAY =>
      val (et, en) = toCatalyst(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case RECORD => // nested record → struct
      (StructType(s.getFields.asScala.map { f =>
        val (dt, n) = toCatalyst(f.schema())
        StructField(f.name(), dt, n)
      }.toArray), false)
    case MAP => // Avro map keys are always strings
      val (vt, vn) = toCatalyst(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case other =>
      throw new IllegalArgumentException(s"graft-avro: unsupported Avro type $other")
  }

  private def isLogical(s: AvroSchema, name: String): Boolean = {
    val lt: LogicalType = s.getLogicalType
    lt != null && lt.getName == name
  }

  /** StructType → Avro record schema, for writes. Inverse of
    * `toStructType` over the supported matrix (round-trip identity is
    * spec-checked).
    */
  def toAvroSchema(st: StructType): AvroSchema =
    recordSchema(st, "graft_avro")

  private def recordSchema(st: StructType, name: String): AvroSchema = {
    val fields = st.fields.map { f =>
      new AvroSchema.Field(f.name, fieldSchema(f.dataType, f.nullable, s"${name}_${f.name}"),
        null, if (f.nullable) AvroSchema.Field.NULL_DEFAULT_VALUE else null)
    }
    // record names must be unique within one schema: derive from path
    AvroSchema.createRecord(name, null, "graft", false,
      java.util.Arrays.asList(fields: _*))
  }

  private def fieldSchema(dt: DataType, nullable: Boolean, path: String): AvroSchema = {
    val base = dt match {
      case BooleanType => AvroSchema.create(BOOLEAN)
      case IntegerType => AvroSchema.create(INT)
      case LongType    => AvroSchema.create(LONG)
      case FloatType   => AvroSchema.create(FLOAT)
      case DoubleType  => AvroSchema.create(DOUBLE)
      case StringType  => AvroSchema.create(STRING)
      case BinaryType  => AvroSchema.create(BYTES)
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(AvroSchema.create(LONG))
      case DateType =>
        LogicalTypes.date().addToSchema(AvroSchema.create(INT))
      case ArrayType(et, containsNull) =>
        AvroSchema.createArray(fieldSchema(et, containsNull, s"${path}_item"))
      case st: StructType => recordSchema(st, path)
      case MapType(StringType, vt, valueContainsNull) =>
        AvroSchema.createMap(fieldSchema(vt, valueContainsNull, s"${path}_value"))
      case other =>
        throw new IllegalArgumentException(s"graft-avro: unsupported Spark type $other")
    }
    if (nullable) AvroSchema.createUnion(AvroSchema.create(NULL), base) else base
  }

  /** Union-by-name of per-file schemas, for inference over a
    * directory whose files carry DRIFTED writer schemas. Field order
    * is first-seen; a field absent from any file is forced nullable
    * (that file null-fills it); same-name type conflicts fail loudly
    * (the strict-matrix discipline — promotion is type drift, not
    * evolution, on a 100 TB ingest).
    */
  def mergeSchemas(schemas: Seq[StructType]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(prev) =>
          require(prev.dataType == f.dataType,
            s"graft-avro: column '${f.name}' has conflicting types across files: " +
            s"${prev.dataType.simpleString} vs ${f.dataType.simpleString}")
          order(f.name) = prev.copy(nullable = prev.nullable || f.nullable)
      }
    })
    StructType(order.values.map { f =>
      if (schemas.forall(_.fieldNames.contains(f.name))) f
      else f.copy(nullable = true)
    }.toArray)
  }

  /** Type-drift check that still admits Catalyst's NESTED pruning: a
    * requested struct may be a SUBSET of the file's struct (the scan
    * asks for `rec.inner.deep` only — that is pruning, not drift; the
    * nested read converter binds those fields by name). Leaf types
    * must match exactly — promotion is drift, refused loudly.
    */
  private def compatible(req: DataType, file: DataType): Boolean = (req, file) match {
    case (r: StructType, f: StructType) =>
      r.fields.forall(rf =>
        f.fields.find(_.name == rf.name).exists(ff => compatible(rf.dataType, ff.dataType)))
    case (ArrayType(re, _), ArrayType(fe, _)) => compatible(re, fe)
    case (MapType(rk, rv, _), MapType(fk, fv, _)) =>
      compatible(rk, fk) && compatible(rv, fv)
    case _ => req == file
  }

  /** Reader schema for one file: the table's requested fields bound
    * to the writer schema by name. A field the writer HAS keeps the
    * writer's field schema verbatim — resolution is a pure projection
    * (skipped fields are decoded as skips, never materialized), and a
    * type-drifted field fails loudly at bind time, never a coerced
    * read. A field the writer LACKS (schema evolution: the file
    * predates the column) enters the reader schema as
    * `union(null, T)` with a null default, which Avro's resolution
    * rules decode as null for every record — the null-fill contract,
    * per the spec's "reader's field not present in writer" rule. Field
    * order follows the requested struct, which is the row layout the
    * scan emits.
    */
  def projectWriterSchema(writer: AvroSchema, required: StructType): AvroSchema = {
    require(writer.getType == RECORD,
      s"graft-avro: container schema must be a record, got ${writer.getType}")
    val fields = required.fields.map { f =>
      val wf = writer.getField(f.name)
      if (wf != null) {
        val (dt, _) = toCatalyst(wf.schema())
        require(compatible(f.dataType, dt),
          s"graft-avro: column '${f.name}' is ${dt.simpleString} in the file's " +
          s"writer schema but the table expects ${f.dataType.simpleString}")
        new AvroSchema.Field(f.name, wf.schema(), null, wf.defaultVal())
      } else {
        require(f.nullable,
          s"graft-avro: non-nullable column '${f.name}' missing from file schema $writer")
        new AvroSchema.Field(f.name, fieldSchema(f.dataType, nullable = true,
          s"evolved_${f.name}"), null, AvroSchema.Field.NULL_DEFAULT_VALUE)
      }
    }
    AvroSchema.createRecord(writer.getName, null, writer.getNamespace, false,
      java.util.Arrays.asList(fields: _*))
  }

  /** Avro runtime value → Catalyst internal value, per Catalyst type.
    * Timestamp/date logical values arrive as the raw long/int — which
    * IS Spark's internal encoding, so those paths are identity.
    * `avro` is the (non-null-branch) schema of the value being
    * decoded: nested-record fields are bound BY NAME to their Avro
    * position at converter-build time, so a Catalyst-side pruned
    * nested struct (Spark prunes `rec.inner.deep` to a sub-struct)
    * still reads the right slots of the full decoded record.
    */
  def readConverter(dt: DataType, avro: AvroSchema): Any => Any = dt match {
    case StringType =>
      v => if (v == null) null else UTF8String.fromString(v.toString)
    case BinaryType =>
      v => if (v == null) null else {
        val bb = v.asInstanceOf[ByteBuffer].duplicate()
        val a = new Array[Byte](bb.remaining()); bb.get(a); a
      }
    case ArrayType(et, _) =>
      val elem = readConverter(et, nonNull(avro.getElementType))
      v => if (v == null) null else {
        val coll = v.asInstanceOf[java.util.Collection[AnyRef]]
        val out = new Array[Any](coll.size())
        val it = coll.iterator(); var i = 0
        while (it.hasNext) { out(i) = elem(it.next()); i += 1 }
        new GenericArrayData(out)
      }
    case st: StructType => // nested record: bind requested fields by name
      val slots = st.fields.map { f =>
        val wf = avro.getField(f.name)
        require(wf != null,
          s"graft-avro: nested field '${f.name}' not in record schema $avro")
        (wf.pos(), readConverter(f.dataType, nonNull(wf.schema())))
      }
      v => if (v == null) null else {
        val rec = v.asInstanceOf[GenericRecord]
        val out = new Array[Any](slots.length)
        var i = 0
        while (i < slots.length) {
          out(i) = slots(i)._2(rec.get(slots(i)._1)); i += 1
        }
        new GenericInternalRow(out)
      }
    case MapType(StringType, vt, _) =>
      val vc = readConverter(vt, nonNull(avro.getValueType))
      v => if (v == null) null else {
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val ks = new Array[Any](m.size); val vs = new Array[Any](m.size)
        val it = m.entrySet().iterator(); var i = 0
        while (it.hasNext) {
          val e = it.next()
          ks(i) = UTF8String.fromString(e.getKey.toString)
          vs(i) = vc(e.getValue); i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new GenericArrayData(ks), new GenericArrayData(vs))
      }
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         TimestampType | DateType =>
      v => v // primitives (and logical micros/days) are already internal form
    case other =>
      throw new IllegalArgumentException(s"graft-avro: unsupported Spark type $other")
  }

  /** Strip the null branch off a nullable union — the schema handle
    * nested writers convert against.
    */
  def nonNull(s: AvroSchema): AvroSchema =
    if (s.getType == UNION) s.getTypes.asScala.find(_.getType != NULL).get else s

  /** (getters, ordinal) → Avro runtime value, over
    * [[org.apache.spark.sql.catalyst.expressions.SpecializedGetters]]
    * so rows, array elements, and map values share one converter
    * tree. Null handling is at each call site (isNullAt). Nested
    * records need their Avro schema handle, threaded from the writer
    * schema so the runtime record always matches the file schema.
    */
  def writeConverter(dt: DataType, avro: AvroSchema):
      (org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int) => AnyRef = dt match {
    case BooleanType => (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i))
    case IntegerType | DateType => (r, i) => java.lang.Integer.valueOf(r.getInt(i))
    case LongType | TimestampType => (r, i) => java.lang.Long.valueOf(r.getLong(i))
    case FloatType   => (r, i) => java.lang.Float.valueOf(r.getFloat(i))
    case DoubleType  => (r, i) => java.lang.Double.valueOf(r.getDouble(i))
    case StringType  => (r, i) => r.getUTF8String(i).toString
    case BinaryType  => (r, i) => ByteBuffer.wrap(r.getBinary(i))
    case ArrayType(et, _) =>
      val elem = writeConverter(et, nonNull(avro.getElementType))
      (r, i) => {
        val arr = r.getArray(i)
        val out = new java.util.ArrayList[AnyRef](arr.numElements())
        var j = 0
        while (j < arr.numElements()) {
          out.add(if (arr.isNullAt(j)) null else elem(arr, j)); j += 1
        }
        out
      }
    case st: StructType =>
      val n = st.fields.length
      val fieldSchemas = avro.getFields.asScala.map(f => nonNull(f.schema())).toArray
      val convs = st.fields.zipWithIndex.map { case (f, i) =>
        writeConverter(f.dataType, fieldSchemas(i))
      }
      (r, i) => {
        val row = r.getStruct(i, n)
        val rec = new GenericData.Record(avro)
        var j = 0
        while (j < n) {
          rec.put(j, if (row.isNullAt(j)) null else convs(j)(row, j)); j += 1
        }
        rec
      }
    case MapType(StringType, vt, _) =>
      val vc = writeConverter(vt, nonNull(avro.getValueType))
      (r, i) => {
        val m = r.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        val out = new java.util.LinkedHashMap[String, AnyRef](m.numElements())
        var j = 0
        while (j < m.numElements()) {
          out.put(ks.getUTF8String(j).toString,
            if (vs.isNullAt(j)) null else vc(vs, j))
          j += 1
        }
        out
      }
    case other =>
      throw new IllegalArgumentException(s"graft-avro: unsupported Spark type $other")
  }
}
