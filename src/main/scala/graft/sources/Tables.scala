package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.MetaFrame

/** Loaders for the driver test tables (TESTDATA.md / FIXTURES.md §2).
  *
  * Construction-from-source matches the reference's pattern
  * `MetaFrame(spark.read.parquet(...), meta)` (reference: README.md:8-16,
  * metaframe/metaframe.py:63-69): ingestion is plain `spark.read`, the wrapper
  * only annotates. Parquet scans keep Catalyst's filter pushdown and column
  * pruning because nothing is materialized here.
  *
  * Source resolution: each parquet path's schema is inferred once per
  * process and reused while the source is unchanged (see [[load]]). Only
  * schemas are cached, never data or file indexes.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loads one fixture table. Sets `spark.sql.legacy.parquet.nanosAsLong`
    * on the session: events.ts is parquet TIMESTAMP(NANOS), which Spark 4
    * rejects outright unless read as a raw long, so it is read
    * nanos-as-long and truncated to microsecond TimestampType (matching
    * DuckDB's ns→us behavior). The schema comes from [[readParquet]]'s
    * cache, so a repeated load runs no Spark job. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** What an inferred schema was inferred from: every leaf file's
    * (path, length, modification time), sorted, and the inference confs. */
  private type Signature = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** Qualified path → the schema inferred there and its [[Signature]]. */
  private val schemas = new ConcurrentHashMap[String, (Signature, StructType)]()

  /** `spark.read.parquet(path)` that infers each source's schema once.
    * Every call lists the source's leaf files (skipping the names Spark's
    * own listing skips) and compares them and the inference confs with the
    * cached entry's signature: on a match the read is
    * `spark.read.schema(cached).parquet(path)`, which runs no Spark job;
    * otherwise the schema is inferred as usual and stored. Rewriting,
    * adding or removing a file, or changing an inference conf, therefore
    * invalidates the entry. The listing is taken before the inference, so
    * a file rewritten in between only causes a later miss. A path that
    * does not exist is read uncached, so Spark raises its own error. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path)
    val key = fs.makeQualified(p).toString
    val sig: Signature =
      (leafFiles(fs, fs.getFileStatus(p)).sortBy(_._1), InferenceConfs.map(spark.conf.getOption))
    schemas.get(key) match {
      case (`sig`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (sig, df.schema))
        df
    }
  }

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[(String, Long, Long)] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq
        .filterNot(c => graftbridge.hiddenPathName(c.getPath.getName))
        .flatMap(leafFiles(fs, _))
    else Seq((st.getPath.toString, st.getLen, st.getModificationTime))

  def loadMeta(spark: SparkSession, sfDir: String, name: String): MetaFrame =
    MetaFrame(load(spark, sfDir, name), Map("table" -> name, "source" -> s"$sfDir/$name.parquet"))

  // ------------------------------------------------------- text-format scans
  // The reference constructs from ANY spark.read source (metaframe.py:63-69);
  // parquet is the only driver-provided format, so the CSV/JSON scan queries
  // round-trip a table through the text format with a DISTRIBUTED write and
  // scan it back under an EXPLICIT schema in FAILFAST mode. The oracle is the
  // parquet truth: a value surviving parquet → text → scan bit-identically
  // (doubles included — writers emit shortest-roundtrip renderings, readers
  // parse correctly-rounded) pins the text readers' parse semantics without
  // the oracle ever touching the derived files. Malformed-row modes
  // (PERMISSIVE + corrupt-record column, DROPMALFORMED, FAILFAST) are pinned
  // in SourcesSpec on handwritten bad rows.

  import org.apache.spark.sql.types._

  /** supplier's explicit scan schema (FIXTURES.md §2 types). */
  val SupplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** documents' explicit scan schema (FIXTURES.md §2 types). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def fixtureDir(sfDir: String, kind: String): String = {
    val leaf = sfDir.stripSuffix("/").split('/').last
    s"target/scan_fixtures/$leaf/$kind"
  }

  /** Writes the supplier CSV twin (header, distributed part files) and scans
    * it back under [[SupplierSchema]], FAILFAST. The fixture regenerates on
    * every call BY DESIGN — the roundtrip is the test; the write is
    * distributed, overwrite-mode, and keyed by sf leaf so concurrent sfs
    * never collide. */
  def scanCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val path = fixtureDir(sfDir, "supplier_csv")
    load(spark, sfDir, "supplier")
      .write.mode("overwrite").option("header", "true").csv(path)
    spark.read.schema(SupplierSchema)
      .option("header", "true").option("mode", "FAILFAST")
      .csv(path)
  }

  /** Writes the documents JSONL twin and scans it back under
    * [[DocumentsSchema]], FAILFAST. */
  def scanJson(spark: SparkSession, sfDir: String): DataFrame = {
    val path = fixtureDir(sfDir, "documents_json")
    load(spark, sfDir, "documents")
      .write.mode("overwrite").json(path)
    spark.read.schema(DocumentsSchema)
      .option("mode", "FAILFAST")
      .json(path)
  }

  /** [[scanCsv]]'s INFERRED-schema twin (r17 verdict #7): the same
    * roundtrip fixture scanned with `inferSchema=true` — two passes over
    * the files by contract (one samples types, one parses), which is why
    * explicit schemas are the production default and inference the
    * exploration path. Inference narrows integer-valued columns to the
    * smallest fitting integral type (s_suppkey reads back IntegerType at
    * test SFs where parquet truth is LongType — the exact dtypes are
    * pinned in SourcesSpec), so the scan is cast back to
    * [[SupplierSchema]] here: equality with the parquet truth then proves
    * inference classified every column to a type whose parse preserved
    * the values bit-for-bit. */
  def scanCsvInferred(spark: SparkSession, sfDir: String): DataFrame = {
    val path = fixtureDir(sfDir, "supplier_csv_inferred")
    load(spark, sfDir, "supplier")
      .write.mode("overwrite").option("header", "true").csv(path)
    val inferred = spark.read
      .option("header", "true").option("inferSchema", "true")
      .option("mode", "FAILFAST")
      .csv(path)
    inferred.select(SupplierSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** Bad-records side channel built from PUBLIC Spark semantics: scans
    * `path` twice — once in PERMISSIVE mode to capture each unparseable
    * row and APPEND it to `badDir` as a JSON line carrying every
    * partially-parsed column plus the verbatim source line under
    * `_corrupt_record` (replayable after a parser fix by re-parsing that
    * field), once in DROPMALFORMED mode to return the clean frame. The
    * bad-row write keeps the full column set deliberately — Spark rejects
    * plans whose required schema is ONLY the corrupt-record column
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN; the documented alternative is
    * caching the parsed input), and the partial values are the audit
    * signal anyway. Two scans instead of one cached pass is the
    * 100 TB-deliberate choice: both sides stream through executors with
    * pushdown intact, nothing materializes corpus-sized state, the bad
    * slice written is O(bad rows). The returned frame is lazy as usual —
    * only the audit write runs at call time. */
  def scanRoutingBadRecords(
      spark: SparkSession,
      format: String,
      path: String,
      schema: StructType,
      badDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    require(format == "csv" || format == "json", s"unsupported format: $format")
    val withCorrupt = schema.add(StructField("_corrupt_record", StringType))
    val permissive = spark.read.format(format).schema(withCorrupt)
      .options(options)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(path)
    // renamed on the way out: a JSON field literally named
    // `_corrupt_record` would read back as the JSON reader's own internal
    // corrupt column, making the bad-records file un-queryable
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) for any consumer selecting it
    permissive.filter(col("_corrupt_record").isNotNull)
      .withColumnRenamed("_corrupt_record", "corrupt_record")
      .write.mode("append").json(badDir)
    spark.read.format(format).schema(schema)
      .options(options)
      .option("mode", "DROPMALFORMED")
      .load(path)
  }
}
