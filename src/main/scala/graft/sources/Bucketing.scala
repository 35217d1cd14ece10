package graft.sources

import org.apache.spark.sql.SparkSession

import graft.MetaFrame

/** Bucketed-table layout (SURVEY.md §4.2 scale rules): pre-shuffling both
  * sides of a recurring join into the same number of buckets on the join key
  * makes every future join between them exchange-free — at 100 TB the one
  * write-time shuffle is amortized over every downstream query. Managed
  * parquet tables via the session catalog; metadata rides the [[MetaPersist]]
  * model (pk recorded in the frame's metadata map, provenance preserved by
  * the caller).
  */
object Bucketing {

  /** Writes the frame as a managed parquet table bucketed AND sorted on
    * `keys`, replacing any existing table of the same name. */
  def writeBucketed(mf: MetaFrame, table: String, numBuckets: Int, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "at least one bucket key")
    val spark = mf.df.sparkSession
    // parse-then-quote: a malformed name fails here instead of reaching the
    // parser inside interpolated SQL text
    val quoted = org.apache.spark.sql.graftbridge.quoteTable(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $quoted") // managed location removed by the drop
    // an earlier process may have left the managed location behind — the
    // in-memory catalog forgets tables across restarts but files persist,
    // and CTAS refuses to reuse an existing location; the catalog derives
    // the path (db-qualified names live under <db>.db/). After the drop no
    // catalog entry can reference it, so anything still there is orphaned —
    // but it may not be ours, so say what is being removed.
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftbridge.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"writeBucketed($quoted): removing orphaned files at $loc " +
          "(location is not referenced by any catalog entry)")
      fs.delete(loc, true)
    }
    mf.df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    // pk/provenance sidecar in the table's storage location, so the catalog
    // round-trip this module exists for does not lose the metadata layer
    // (same policy as MetaPersist: a uniqueness proof never crosses a job
    // boundary). MetaPersist is java.nio-based, so only
    // file:-scheme locations carry a sidecar; remote object stores skip it.
    try MetaPersist.writeSidecar(
      new java.io.File(org.apache.spark.sql.graftbridge.tableLocation(spark, table)).getPath,
      mf.metadata)
    catch {
      case _: IllegalArgumentException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"writeBucketed($quoted): non-local table location, metadata sidecar skipped")
    }
  }

  /** Reads a catalog table back into the metadata layer: metadata restored
    * from the [[MetaPersist]] sidecar in the table location when present,
    * then overlaid with any explicitly supplied entries (caller wins). */
  def table(spark: SparkSession, name: String, metadata: Map[String, Any] = Map.empty): MetaFrame = {
    val df = spark.table(name)
    val restored =
      try MetaPersist.readSidecar(
        new java.io.File(org.apache.spark.sql.graftbridge.tableLocation(spark, name)).getPath)
      catch {
        // non-file location (e.g. a remote object store URI on a real cluster)
        case _: IllegalArgumentException => Map.empty[String, Any]
        // not a catalog table (temp/global-temp view): spark.table resolved
        // it above, but getTableMetadata has no entry — no sidecar to read
        case _: org.apache.spark.sql.AnalysisException => Map.empty[String, Any]
      }
    MetaFrame(df, restored ++ metadata)
  }
}
