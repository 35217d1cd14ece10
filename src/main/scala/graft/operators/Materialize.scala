package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge

/** The one owner of intermediate-frame materialization inside operators,
  * streaming stages and declared queries. Two operations, plus the block
  * that releases what they leave to their caller:
  *
  *  - [[pin]] materializes a frame reused by several consumers inside one
  *    operator. Always executor-local, never a reliable checkpoint.
  *  - [[rounds]] is the scope an iterative operator runs its loop in:
  *    every round truncates lineage, the previous round is freed as the
  *    next one lands, and a failure frees everything the scope holds.
  *
  * Who frees what: a round scope frees its earlier rounds and its
  * loop-invariant frames itself; only the round handed out by
  * [[Rounds.keep]] outlives the scope. That kept round and every pin
  * belong to the caller. They are freed by the innermost enclosing
  * [[owned]] block on the same thread when it exits (`Ingest.runBatch`
  * owns its whole batch), else by `graftbridge.freeCheckpoints(result)`
  * from a caller owning the whole result, else by the ContextCleaner once
  * the frame is unreachable — which reclaims local blocks but never
  * reliable-checkpoint files. */
private[graft] object Materialize {

  private val owners = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  private def own(df: DataFrame): DataFrame = {
    owners.get.headOption.foreach(_ += df)
    df
  }

  /** Runs `body` as the owner of every pin and kept round materialized
    * inside it on this thread, and frees them all when `body` returns or
    * fails. Only for a caller that consumes everything it builds before
    * returning — nothing materialized inside may escape the block. */
  def owned[T](body: => T): T = {
    val mine = ArrayBuffer.empty[DataFrame]
    owners.set(mine :: owners.get)
    try body finally {
      owners.set(owners.get.tail)
      mine.foreach(graftbridge.freeCheckpoint)
    }
  }

  /** Intra-operator reuse pin: a bare projection has no exchange for AQE
    * runtime reuse to latch onto, so a frame feeding two or more consumers
    * re-runs per consumer unless materialized once. Always
    * `localCheckpoint` (executor-local blocks): reliable checkpoint files
    * are never auto-deleted (`spark.cleaner.referenceTracking.
    * cleanCheckpoints` defaults to false), so per-call pins would pile up
    * files, and an intermediate needs no executor-loss durability — the
    * job simply reruns. EAGER: runs a Spark job at construction time. */
  def pin(df: DataFrame): DataFrame = own(df.localCheckpoint())

  /** Runs an iterative operator's loop inside a round scope. Every round
    * must truncate lineage: self-referencing rounds grow the LOGICAL plan
    * with each round (caching truncates execution, not analysis). Rounds
    * use a RELIABLE checkpoint when the session has a checkpoint dir
    * (`sparkContext.setCheckpointDir` — survives executor loss, the mode
    * for preemptible clusters) and `localCheckpoint` otherwise (an
    * executor loss mid-loop fails the job). On success the loop-invariant
    * frames and every round not handed out by [[Rounds.keep]] are freed;
    * on any failure the in-flight round, the current round and the
    * loop-invariant frames are freed before the failure is rethrown. */
  def rounds[T](spark: SparkSession)(body: Rounds => T): T = {
    val scope = new Rounds(spark.sparkContext.getCheckpointDir.isDefined)
    try body(scope) finally scope.free()
  }

  /** The state of one round loop; see [[rounds]]. */
  final class Rounds private[Materialize] (reliable: Boolean) {
    private val invariants = ArrayBuffer.empty[DataFrame]
    private var current: DataFrame = null
    private var inflight: DataFrame = null

    private def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()

    /** Materializes a frame every round reads (an edge list, a feature
      * table); freed when the scope exits. Eager. */
    def invariant(df: DataFrame): DataFrame = {
      val m = truncate(df)
      invariants += m
      m
    }

    /** Materializes `df` as the next round and frees the previous one.
      * Eager. */
    def next(df: DataFrame): DataFrame = {
      inflight = truncate(df)
      promote()
    }

    /** [[next]] plus the number of rows of the new round matching
      * `changed`, counted in the SAME job that materializes the round on
      * the local path (the lazy checkpoint's blocks are filled by the
      * count; every partition is computed once). On the reliable path
      * the checkpoint is eager and the count scans its files in a second
      * job. Callers
      * carry the previous round's value in a column, so `changed` is
      * row-local and needs no join. */
    def nextCounting(df: DataFrame, changed: Column): (DataFrame, Long) = {
      inflight = if (reliable) df.checkpoint() else df.localCheckpoint(eager = false)
      val n = inflight.filter(changed).count()
      (promote(), n)
    }

    /** Hands the current round to the caller as the loop's result: the
      * scope will not free it. A result that is a projection of it (not
      * the checkpointed frame itself) is freed by its owner with
      * `graftbridge.freeCheckpoints`, since `freeCheckpoint` only frees a
      * frame whose plan root is the checkpoint. */
    def keep(): DataFrame = {
      val kept = current
      current = null
      own(kept)
    }

    private def promote(): DataFrame = {
      if (current != null) graftbridge.freeCheckpoint(current)
      current = inflight
      inflight = null
      current
    }

    private[Materialize] def free(): Unit =
      (Option(inflight) ++ Option(current) ++ invariants).foreach(graftbridge.freeCheckpoint)
  }
}
