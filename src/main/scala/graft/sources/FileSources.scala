package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Staged, Tables}

/** CSV and JSON *source* coverage — the "other formats" row of
  * SURVEY.md §2.1. The reference ingests only raw text (its upload
  * filter accepts .txt, reference upload_data.py:48); a Spark-native
  * engine must also read the interchange formats a pipeline actually
  * receives. `events` is round-tripped through each format once per
  * fixture dir (one [[graft.Staged]] copy each) and aggregated from
  * the read-back copy, while the DuckDB oracle aggregates the original
  * parquet — so the format round-trip itself is under the
  * differential gate.
  *
  * Schema discipline: both readers get an explicit schema (never
  * inferSchema — at 100 TB schema inference is an extra full scan,
  * and silent type drift is how corrupt rows slip in). The timestamp
  * travels as epoch microseconds (a BIGINT) to keep the text formats
  * locale/format-free.
  */
object FileSources {

  /** Events projection staged once per (dir, format); returns the
    * directory of text files. Timestamps as unix micros, matching
    * DuckDB's epoch_us(ts).
    */
  private def eventsAs(s: SparkSession, dir: String, format: String): String =
    Staged.dir(format, dir) { out =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite")
        .option("header", "true")   // no-op for json/xml
        .option("rowTag", "event")  // no-op for csv/json
        .format(format).save(out)
    }

  private val eventsDdl =
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT"

  /** Per-type rollup over the read-back copy: count, exact decimal sum
    * (finished to double once — the repo's double-sum policy), and the
    * ts range. Any row the text format dropped or re-typed flips a
    * value here.
    */
  private def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"),
        min(col("ts_us")).as("min_ts"),
        max(col("ts_us")).as("max_ts"))

  def csvEvents(s: SparkSession, dir: String): DataFrame =
    rollup(s.read.schema(eventsDdl).option("header", "true")
      .csv(eventsAs(s, dir, "csv")))

  def jsonEvents(s: SparkSession, dir: String): DataFrame =
    rollup(s.read.schema(eventsDdl).json(eventsAs(s, dir, "json")))

  /** ORC — the columnar alternative to parquet (typed, no text
    * round-trip concerns; the schema rides in the file).
    */
  def orcEvents(s: SparkSession, dir: String): DataFrame =
    rollup(s.read.orc(eventsAs(s, dir, "orc")))

  /** XML — built into Spark 4.x; same explicit-schema discipline as
    * csv/json (no inference scan, no type drift).
    */
  def xmlEvents(s: SparkSession, dir: String): DataFrame =
    rollup(s.read.schema(eventsDdl).option("rowTag", "event")
      .format("xml").load(eventsAs(s, dir, "xml")))

  /** Avro round-trip through the graft-avro DataSource V2
    * (`AvroSource.scala` — built on the Avro core jar the Spark
    * distribution already carries; the spark-avro connector is absent
    * offline). Unlike the text formats, `ts` travels as a REAL
    * timestamp (Avro `timestamp-micros` logical type), so the logical
    * type round-trip sits under the differential gate too. The read
    * projects 3 of 5 columns — the scan's pushed projection (pruned
    * reader schema) is on the oracle path, not just spec'd.
    */
  private def eventsAvro(s: SparkSession, dir: String): String =
    Staged.dir("avro", dir) { out =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .write.mode("overwrite").format("graft-avro").save(out)
    }

  def avroEvents(s: SparkSession, dir: String): DataFrame =
    rollup(s.read.format("graft-avro").load(eventsAvro(s, dir))
      .select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us")))

  /** One directory, two producer generations with DRIFTED writer
    * schemas (the Avro mirror of [[evolvedDir]], but in a single flat
    * dir — the point is PER-FILE schema resolution, not partition
    * discovery): generation 1 wrote (event_id, user_id, value),
    * generation 2 (event_id, user_id, event_type). Inference unions
    * the file schemas by name; each file's reader null-fills the
    * column it predates, per Avro's resolution rules.
    */
  private def evolvedAvroDir(s: SparkSession, dir: String): String =
    Staged.dir("avro-evolve", dir) { out =>
      val ev = Tables.events(s, dir)
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").format("graft-avro").save(out)
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("append").format("graft-avro").save(out)
    }

  /** Same rollup contract as [[evolvedEvents]]; the batch tag comes
    * from event_id parity (the write split), since a flat Avro dir
    * has no partition column to discover.
    */
  def avroEvolvedEvents(s: SparkSession, dir: String): DataFrame = {
    val batch = when(pmod(col("event_id"), lit(2)) === 0, 1L).otherwise(2L)
    s.read.format("graft-avro").load(evolvedAvroDir(s, dir))
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_with_value"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"),
        min(batch).as("min_batch"),
        max(batch).as("max_batch"))
  }

  /** Two parquet batches with EVOLVED schemas, staged once per
    * dir: batch b=1 is the "legacy" shape (event_id, user_id,
    * value — no event_type column yet), batch b=2 the "current" one
    * (event_id, user_id, event_type — value dropped). The split is
    * deterministic (event_id parity) so the oracle can reconstruct
    * both generations from the fixture.
    */
  private def evolvedDir(s: SparkSession, dir: String): String =
    Staged.dir("evolve", dir) { out =>
      val ev = Tables.events(s, dir)
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").parquet(s"$out/b=1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$out/b=2")
    }

  /** Schema-evolution read: `mergeSchema` unions the two batch
    * schemas by name (absent columns null-filled), and the partition
    * column `b` is discovered from the directory layout — the two
    * mechanics a long-lived 100 TB dataset depends on when its schema
    * grows columns over time (mergeSchema is a footer-union, not a
    * data scan, so the read stays cheap). The rollup pivots on the
    * null-filled columns, so a wrong fill or a dropped batch flips
    * the result.
    */
  def evolvedEvents(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(evolvedDir(s, dir))
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_with_value"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"),
        min(col("b")).cast("long").as("min_batch"),
        max(col("b")).cast("long").as("max_batch"))

  private val evolvedOracle =
    """SELECT
      |  coalesce(CASE WHEN event_id % 2 = 1 THEN event_type END, 'legacy')
      |    AS event_type,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN event_id % 2 = 0 THEN value END) AS n_with_value,
      |  round(CAST(SUM(CASE WHEN event_id % 2 = 0
      |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS sum_value,
      |  MIN(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS min_batch,
      |  MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS max_batch
      |FROM events GROUP BY 1""".stripMargin

  /** CSV with deterministically planted malformed rows (every
    * event_id ≡ 0 mod 1000 becomes a line whose numeric fields don't
    * parse), staged once per dir as raw text.
    */
  private def corruptCsvDir(s: SparkSession, dir: String): String =
    Staged.dir("corrupt", dir) { out =>
      Tables.events(s, dir)
        .select(
          when(pmod(col("event_id"), lit(1000)) === 0,
            concat_ws(",", col("event_id"), lit("oops"), lit("x")))
            .otherwise(concat_ws(",",
              col("event_id"), col("user_id"), col("value"))).as("line"))
        .write.mode("overwrite").text(out)
    }

  /** Robust ingestion: PERMISSIVE CSV parsing with a corrupt-record
    * column — the malformed-row quarantine pattern a 100 TB text
    * ingest needs (FAILFAST kills the job on one bad line;
    * DROPMALFORMED silently loses data — quarantine keeps the
    * pipeline running AND the evidence). The rollup counts both
    * populations and sums only cleanly parsed values, so a row
    * misclassified in either direction flips the result.
    */
  def corruptCsv(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(corruptCsvDir(s, dir))
      .agg(
        count(when(col("_corrupt").isNull, 1)).as("n_good"),
        count(col("_corrupt")).as("n_corrupt"),
        round(sum(when(col("_corrupt").isNull, col("value"))
          .cast("decimal(18,2)")).cast("double"), 2).as("sum_value_good"))

  private val corruptOracle =
    """SELECT
      |  COUNT(*) FILTER (event_id % 1000 <> 0) AS n_good,
      |  COUNT(*) FILTER (event_id % 1000 = 0) AS n_corrupt,
      |  round(CAST(SUM(CASE WHEN event_id % 1000 <> 0
      |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2)
      |    AS sum_value_good
      |FROM events""".stripMargin

  /** JDBC source through embedded Derby (on the classpath as Spark's
    * metastore backend — no network endpoint needed): events are
    * staged once per dir into a Derby database ([[graft.Staged]]),
    * then read back with a PARTITIONED
    * `spark.read.jdbc` — partitionColumn/bounds/numPartitions, the
    * shape that turns a single-cursor JDBC pull into parallel range
    * scans (the only way a relational source feeds a large cluster
    * without the one-connection bottleneck; bounds only split ranges,
    * they never clip rows). The same rollup + oracle as the file
    * formats, so the full write→read round-trip sits under the
    * differential gate. `createTableColumnTypes` pins event_type to
    * VARCHAR — Derby's default mapping for StringType is CLOB, which
    * cannot be grouped on.
    *
    * Multi-JVM execution (round 9): an embedded on-disk Derby
    * database is single-JVM by design — under `local-cluster` every
    * executor JVM racing to boot the same database dies on the db
    * lock (found by the round-9 local-cluster gate; a real cluster
    * would hit the same wall). So after seeding, the database is
    * SHUT DOWN and archived into a jar, and ALL reads — every master
    * mode, so the gate exercises one code path — go through Derby's
    * documented multi-JVM read-only form `jdbc:derby:jar:(file)db`:
    * each range-partition task boots its own read-only instance from
    * the archive. This is the legitimate cluster shape for an
    * embedded store: ship an immutable snapshot, never a live lock.
    */
  private[sources] val JdbcReadPartitions = 8

  /** The staged Derby database's archive; the jar holds it as `db/`. */
  private def derbyJar(s: SparkSession, dir: String): String =
    Staged.dir("derby", dir) { out =>
      val dbDir = s"$out/db"
      // Seed on the DRIVER through plain JDBC: Spark's JDBC sink
      // writes from tasks, i.e. from several executor JVMs, and an
      // embedded Derby database admits exactly one booting JVM —
      // under local-cluster the concurrent boots deadlock on the db
      // lock. Seeding is fixture scaffolding (the stand-in for the
      // RDBMS a real deployment already has), so a driver-side
      // batch insert is the honest shape; the DISTRIBUTED part of
      // the operator is the partitioned range read below.
      // toLocalIterator, not collect(): streams one partition at a
      // time to the driver, so a larger fixture degrades to slower
      // seeding instead of an opaque driver-heap blowup
      val rows = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .toLocalIterator()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      val conn = java.sql.DriverManager
        .getConnection(s"jdbc:derby:$dbDir;create=true")
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        // PRIMARY KEY: the partitioned read predicates on event_id
        // ranges — without the index every range task table-scans
        // the whole archive (8 partitions × full scan through zip
        // decompression measured 28 s at sf0.1 under local-cluster;
        // an index range scan reads each row once)
        st.execute("""CREATE TABLE events_jdbc (
          event_id BIGINT PRIMARY KEY, user_id BIGINT,
          event_type VARCHAR(64), value DOUBLE, ts_us BIGINT)""")
        st.close()
        val ps = conn.prepareStatement(
          "INSERT INTO events_jdbc VALUES (?, ?, ?, ?, ?)")
        var n = 0
        while (rows.hasNext) {
          val r = rows.next()
          ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
          ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
          ps.setLong(5, r.getLong(4))
          ps.addBatch()
          n += 1
          if (n % 10000 == 0) { ps.executeBatch(); () }
        }
        ps.executeBatch()
        ps.close()
        conn.commit()
      } finally conn.close()
      // release the embedded instance (flushes the log; a booted
      // database's files are not guaranteed archive-consistent)
      try {
        java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
        ()
      } catch {
        // 08006 IS the success signal for single-database shutdown
        case e: java.sql.SQLException if e.getSQLState == "08006" => ()
      }
      jarDirectory(dbDir, s"$dbDir.jar", "db")
    } + "/db.jar"

  def jdbcEvents(s: SparkSession, dir: String): DataFrame = {
    val dbJar = derbyJar(s, dir)
    val maxId = Tables.events(s, dir) // range bound: a scalar, not data
      .agg(max(col("event_id"))).head.getLong(0)
    rollup(s.read.format("jdbc")
      .option("url", s"jdbc:derby:jar:($dbJar)db")
      .option("dbtable", "events_jdbc")
      .option("partitionColumn", "event_id")
      .option("lowerBound", "0")
      .option("upperBound", (maxId + 1).toString)
      .option("numPartitions", JdbcReadPartitions.toString)
      .load())
  }

  /** Archive a seeded Derby database directory as `<top>/...` entries
    * in a jar (the stager marks the copy only once this returns, so no
    * reader sees a half-written archive). Lock files and the scratch
    * dir are excluded — they are instance state, not
    * database content, and a read-only boot must not see them.
    */
  private def jarDirectory(srcDir: String, jarPath: String,
      top: String): Unit = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(srcDir)
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(jarPath)))
    try {
      // the walk stream owns directory handles — close it, not just
      // drain its iterator
      val walk = Files.walk(base)
      try {
      val files = walk.iterator()
      while (files.hasNext) {
        val f = files.next()
        if (Files.isRegularFile(f)) {
          val rel = base.relativize(f).toString.replace('\\', '/')
          if (!rel.endsWith(".lck") && !rel.startsWith("tmp/")) {
            // STORED, not DEFLATE: Derby page I/O is random-access
            // seeks into the archive entries — a compressed entry
            // re-inflates from its start on every seek, which turns a
            // table scan quadratic in pages (measured: 20 s vs 0.6 s
            // for the sf0.1 read). Stored entries seek directly.
            val bytes = Files.readAllBytes(f)
            val e = new java.util.zip.ZipEntry(s"$top/$rel")
            e.setMethod(java.util.zip.ZipEntry.STORED)
            e.setSize(bytes.length.toLong)
            val crc = new java.util.zip.CRC32
            crc.update(bytes)
            e.setCrc(crc.getValue)
            out.putNextEntry(e)
            out.write(bytes)
            out.closeEntry()
          }
        }
      }
      } finally walk.close()
    } finally out.close()
  }

  private val rollupOracle =
    """SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
      |  MIN(epoch_us(ts)) AS min_ts,
      |  MAX(epoch_us(ts)) AS max_ts
      |FROM events GROUP BY event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("source_csv", rollupOracle)(csvEvents),
    Q("source_json", rollupOracle)(jsonEvents),
    Q("source_orc", rollupOracle)(orcEvents),
    Q("source_xml", rollupOracle)(xmlEvents),
    Q("source_evolved_schema", evolvedOracle)(evolvedEvents),
    Q("source_csv_corrupt", corruptOracle)(corruptCsv),
    Q("source_jdbc", rollupOracle)(jdbcEvents),
    Q("source_avro", rollupOracle)(avroEvents),
    Q("source_avro_evolved", evolvedOracle)(avroEvolvedEvents),
  )
}
