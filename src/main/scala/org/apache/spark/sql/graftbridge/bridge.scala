package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal visibility bridge: `classic.ExpressionUtils` (Column <-> catalyst
  * Expression) is `private[sql]` in Spark 4, so third-party native
  * expressions need a shim inside the `org.apache.spark.sql` namespace.
  * Nothing else from internals is exposed. */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Registers a temp SQL function on an EXISTING session (the session-level
    * twin of `SparkSessionExtensions.injectFunction`, which only applies at
    * builder time). `FunctionRegistry` is `private[sql]`, hence the shim. */
  def registerTempFunction(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Frees the materialized storage behind a (local)checkpointed frame —
    * `Dataset.unpersist` only clears CacheManager entries, not the RDD a
    * checkpoint truncated the plan to (`LogicalRDD` is `private[sql]`,
    * hence the shim). For RELIABLE checkpoints the materialized files are
    * deleted too: Spark itself only cleans them with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so without
    * this an iterative loop grows checkpoint-dir disk O(rounds). Callers
    * must therefore only free a round AFTER the next round has materialized
    * (the iterative loops here do).
    *
    * Deletion is deliberately restricted to the case where the frame IS the
    * checkpoint — the plan root is the `LogicalRDD` — and a no-op otherwise:
    * walking the whole plan would also destroy checkpoint files merely
    * EMBEDDED in a larger query (`df.checkpoint().join(...)`), which another
    * live frame may still reference. Free the checkpointed frame itself, not
    * frames derived from it. */
  def freeCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => freeLogicalRdd(df, l)
      case _ =>
    }

  /** Frees EVERY checkpoint embedded anywhere in the frame's plan — the
    * deliberate opposite of [[freeCheckpoint]]'s root-only restriction,
    * for the case where an OPERATOR checkpointed an internal stage (e.g.
    * `Graph.triangles`' oriented edge list) so the caller never holds the
    * checkpointed frame itself. Only safe when the caller owns the whole
    * result and no other live frame shares its lineage — a bench loop
    * between passes, not library code. */
  def freeCheckpoints(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => freeLogicalRdd(df, l)
      case _ =>
    }

  private def freeLogicalRdd(df: Dataset[_], l: execution.LogicalRDD): Unit = {
    l.rdd.getCheckpointFile.foreach { dir => // None for local checkpoints
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    l.rdd.unpersist(false)
  }

  /** Blocks until the shared listener bus has delivered every queued event —
    * `QueryExecutionListener` callbacks are posted asynchronously, so a
    * just-finished action's executed plan is only visible to a listener after
    * the bus drains (`LiveListenerBus.waitUntilEmpty` is `private[spark]`,
    * hence the shim). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether Spark's file listing skips a file or directory of this name
    * (`_`/`.` prefixes, in-flight copies; `HadoopFSUtils` is
    * `private[spark]`, hence the shim). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Parses a user-supplied table name with Spark's own SQL parser (rejecting
    * malformed identifiers) and returns it fully quoted for safe
    * interpolation into SQL text. */
  def quoteTable(spark: SparkSession, table: String): String =
    spark.sessionState.sqlParser.parseTableIdentifier(table).quotedString

  /** The location the catalog would assign a managed table of this name
    * (database-qualified names resolve into `<db>.db/` subdirectories —
    * hand-deriving `<warehouse>/<name>` is wrong for them). */
  def defaultTablePath(spark: SparkSession, table: String): java.net.URI = {
    val catalog = spark.sessionState.catalog
    catalog.defaultTablePath(spark.sessionState.sqlParser.parseTableIdentifier(table))
  }

  /** The ACTUAL storage location of an existing catalog table (unlike
    * [[defaultTablePath]], which derives where a managed table WOULD go) —
    * `SessionCatalog.getTableMetadata` is `private[sql]`, hence the shim. */
  def tableLocation(spark: SparkSession, table: String): java.net.URI =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location
}
