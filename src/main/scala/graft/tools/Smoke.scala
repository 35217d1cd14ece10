package graft.tools


import graft._
import graft.sources.Tables

/** Dev smoke runner: exercises the driver contract (`SparkEntry.entry`) and a
  * few MetaFrame semantics end-to-end on sf0.001. Run:
  * `sbt "runMain graft.tools.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)

    val entryRows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${entryRows.length}")
    entryRows.foreach(r => println(s"[smoke]   $r"))
    require(entryRows.nonEmpty, "entry must return rows")

    // MetaFrame semantics through the public surface
    val li = Tables.loadMeta(spark, "/root/testdata/sf0.001", "lineitem")
    val grouped = li.groupBy("l_returnflag", "l_linestatus").count()
    println(s"[smoke] pk after groupBy = ${grouped.primaryKey}")
    require(grouped.primaryKey.contains(Seq("l_returnflag", "l_linestatus")))

    val dd = li.select("l_returnflag", "l_linestatus").dropDuplicates()
    println(s"[smoke] pk after no-arg dropDuplicates = ${dd.primaryKey}")
    require(dd.primaryKey.contains(Seq("l_returnflag", "l_linestatus")))

    // reference-compat aliases
    val viaAlias = li.groupby("l_returnflag").count()
    require(viaAlias.primaryKey.contains(Seq("l_returnflag")))
    require(li.select("l_suppkey").drop_duplicates().primaryKey.contains(Seq("l_suppkey")))
    println("[smoke] snake-case aliases OK")

    val annotated = li.setMetadata("owner" -> "pipeline")
    require(li.metadata.get("owner").isEmpty, "parent metadata must be immutable")
    println(s"[smoke] child metadata keys = ${annotated.metadata.keySet}")

    // streaming end-to-end: file source → watermarked tumbling agg → memory sink
    val eventsBatch = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // stream-side schema keeps ts as raw nanos (nanosAsLong), converted below
    val rawSchema = org.apache.spark.sql.types.StructType(eventsBatch.schema.map(f =>
      if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
    // the streaming file source wants a directory: stage the file locally
    val streamDir = java.nio.file.Paths.get("target/smoke_stream_in")
    java.nio.file.Files.createDirectories(streamDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      streamDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = graft.streaming.Streams.readParquetStream(
      spark, streamDir.toAbsolutePath.toString, rawSchema)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    val agg = graft.streaming.Streams.tumblingAgg(stream, "ts", "1 hour", "10 minutes")
    val q = graft.streaming.Streams.runToMemory(agg, "smoke_stream",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val streamed = spark.table("smoke_stream").count()
    q.stop()
    println(s"[smoke] streaming windows=$streamed")
    require(streamed > 0, "streaming agg must produce windows")

    println("[smoke] OK")
    spark.stop()
  }
}
