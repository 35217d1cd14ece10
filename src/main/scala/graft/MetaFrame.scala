package graft

import org.apache.spark.sql.{Column, DataFrame, DataFrameNaFunctions, DataFrameStatFunctions, DataFrameWriter, DataFrameWriterV2, Dataset, Encoder, Encoders, RelationalGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch

/** Metadata-annotated DataFrame — the Spark-native re-expression of the
  * reference's `MetaFrame` (reference: metaframe/metaframe.py:27-197).
  *
  * Design (SURVEY.md §7.1): composition + explicit typed forwarders, not
  * inheritance + dynamic dispatch. The reference subclasses
  * `pyspark.sql.DataFrame` purely for `isinstance` and routes every call via
  * `__getattr__` (metaframe.py:77-94); in Scala `Dataset`'s constructor is
  * package-private and dynamic routing is unidiomatic, so each delegated
  * operator is an explicit method that rewraps its result with the same
  * metadata (the analogue of metaframe.py:111-117).
  *
  * Semantics preserved from the reference:
  *   - metadata flows through every DataFrame-returning transformation
  *     (metaframe.py:113-114);
  *   - `primary_key` is inferred after uniqueness-guaranteeing ops —
  *     `groupBy`, `dropDuplicates`, `distinct` (metaframe.py:48-60, 121-177);
  *   - no-arg `dropDuplicates`/`distinct` ⇒ pk = all columns
  *     (metaframe.py:144-145, 164-165);
  *   - binary ops (join/union/…) keep the LEFT operand's metadata
  *     (metaframe.py:114).
  *
  * Deliberate divergences (SURVEY.md §7.3, each pinned by a test):
  *   - metadata is an immutable `Map` (the reference shares a mutable dict by
  *     reference between parent and child, metaframe.py:114);
  *   - `groupBy(Column*)` is a separate overload that does NOT infer pk
  *     instead of crashing (reference Q1: unhashable `Column` in `set(args)`,
  *     metaframe.py:152);
  *   - pk preserves caller argument order (reference Q2: Python-set order,
  *     metaframe.py:152);
  *   - `.write` / `.na` / `.stat` / `randomSplit` return metadata-preserving
  *     facades (the reference loses metadata on all of them, metaframe.py:87-88).
  */
sealed case class MetaFrame(df: DataFrame, metadata: Map[String, Any]) {

  import MetaFrame.PrimaryKeyField

  // ---------------------------------------------------------------- metadata

  /** reference: `primary_key` property, metaframe.py:188-197. */
  def primaryKey: Option[Seq[String]] = metadata.get(PrimaryKeyField).collect {
    case s: Seq[_] => s.map(_.toString)
  }

  /** The key this frame is PROVEN unique on (beyond reference, SURVEY §4.3),
    * which lets a later dedup skip its shuffle. Never part of `metadata`:
    * only the forwarders below and [[MetaFrame.keyed]] create or carry it,
    * so `MetaFrame(df, m)`, `copy` and every other public constructor build
    * an unproven frame, whatever `m` says. */
  private[graft] def provenKey: Option[Seq[String]] = None

  /** reference: `set_metadata(**params)` merge-and-replace, metaframe.py:179-186.
    * A key set by hand is a claim, not a proof: the proof names its own key,
    * so the merge neither creates nor removes it. */
  def setMetadata(params: (String, Any)*): MetaFrame =
    MetaFrame.provenFrame(df, metadata ++ params, provenKey)

  def withPrimaryKey(cols: Seq[String]): MetaFrame = setMetadata(PrimaryKeyField -> cols)

  /** reference: `__str__`, metaframe.py:71-75. */
  override def toString: String = s"$df metadata: $metadata"

  // ------------------------------------------------------------- column refs

  /** reference: `__getitem__`, metaframe.py:96-97. */
  def apply(colName: String): Column = df(colName)
  def col(colName: String): Column = df.col(colName)
  def colRegex(colName: String): Column = df.colRegex(colName)
  /** Hidden source metadata column (e.g. `_metadata` on file scans). */
  def metadataColumn(colName: String): Column = df.metadataColumn(colName)

  // -------------------------------------------------------- private plumbing

  /** Default rewrap: metadata propagates, but the proof is dropped — the
    * operation may have broken uniqueness (join can fan out left rows, union
    * can duplicate, generators multiply). The user-visible `primary_key`
    * still propagates reference-style (stale allowed, exactly like the
    * reference's blind dict propagation, metaframe.py:113-114). */
  @inline private[graft] def wrap(d: DataFrame): MetaFrame = MetaFrame(d, metadata)

  /** Rewrap for operations that can only keep or remove whole rows
    * (filter/sort/limit/repartition/…): uniqueness is preserved, so the
    * proof survives and downstream dedups can still be elided. */
  @inline private[graft] def wrapKeep(d: DataFrame): MetaFrame =
    MetaFrame.provenFrame(d, metadata, provenKey)

  /** Memoized views of THIS frame's analyzed plan, shared by every
    * projection forwarded from it: a long synthesized chain of projections
    * calls [[wrapProj]] once per op, and without the cache each call walked
    * both the old and the new plan — quadratic driver work over the chain.
    * `analyzed` itself is a lazy val inside Spark's QueryExecution, so these
    * only pay one output scan / one tree walk per MetaFrame instance. */
  @transient private lazy val analyzedOutputIds
      : Map[String, org.apache.spark.sql.catalyst.expressions.ExprId] =
    df.queryExecution.analyzed.output.map(a => a.name -> a.exprId).toMap
  @transient private lazy val generateCount: Int = MetaFrame.countGenerates(df)

  /** Rewrap for projections: row-preserving (Project) keeps the proof, but a
    * generator (explode & co.) multiplies rows and must drop it. Detected on
    * the analyzed plans so `select(explode(...))` is caught reliably.
    *
    * The proof also survives only while every proven-key column is a
    * PASS-THROUGH attribute reference: a projection that redefines one (e.g.
    * `withColumn(pkCol, lit(1))` or `select(expr.as(pkCol))`) can collide
    * previously-unique values, so uniqueness is no longer proven. Checked by
    * exprId on the analyzed outputs — an unchanged attribute keeps its
    * exprId, any rewrite allocates a fresh one. The old-plan side of both
    * checks reads the memoized fields above; the Generate walk over the new
    * plan is skipped entirely when pass-through already failed. */
  @inline private def wrapProj(d: DataFrame): MetaFrame = provenKey match {
    case Some(pk) =>
      val newIds = d.queryExecution.analyzed.output.map(a => a.name -> a.exprId).toMap
      val pkPassThrough =
        pk.forall(c => analyzedOutputIds.get(c).exists(id => newIds.get(c).contains(id)))
      if (pkPassThrough && MetaFrame.countGenerates(d) == generateCount) wrapKeep(d) else wrap(d)
    case None => wrap(d)
  }

  @inline private def wrapPk(d: DataFrame, pk: Seq[String]): MetaFrame =
    MetaFrame.provenFrame(d, metadata + (PrimaryKeyField -> pk), Some(pk))

  // ------------------------------------------------- projections (SURVEY §2.2b)

  def select(cols: Column*): MetaFrame = wrapProj(df.select(cols: _*))
  def select(col: String, cols: String*): MetaFrame = wrapProj(df.select(col, cols: _*))
  def selectExpr(exprs: String*): MetaFrame = wrapProj(df.selectExpr(exprs: _*))
  def withColumn(colName: String, col: Column): MetaFrame = wrapProj(df.withColumn(colName, col))
  def withColumns(colsMap: Map[String, Column]): MetaFrame = wrapProj(df.withColumns(colsMap))
  /** Renames and drops are projections too: the proof survives only while
    * the pk columns pass through, so another column renamed onto a pk name
    * is never taken as proven. */
  def withColumnRenamed(existing: String, newName: String): MetaFrame =
    wrapProj(df.withColumnRenamed(existing, newName))
  def withColumnsRenamed(renames: Map[String, String]): MetaFrame =
    wrapProj(df.withColumnsRenamed(renames))
  /** Attaches COLUMN-level (schema) metadata — orthogonal to the
    * frame-level metadata dict this wrapper carries. Row-preserving
    * projection, so the proof survives via [[wrapProj]]'s pass-through
    * check. */
  def withMetadata(columnName: String, md: org.apache.spark.sql.types.Metadata): MetaFrame =
    wrapProj(df.withMetadata(columnName, md))
  def drop(colNames: String*): MetaFrame = wrapProj(df.drop(colNames: _*))
  def drop(col: Column): MetaFrame = wrapProj(df.drop(col))
  def toDF(colNames: String*): MetaFrame =
    wrap(if (colNames.isEmpty) df.toDF() else df.toDF(colNames: _*))
  def to(schema: StructType): MetaFrame = wrap(df.to(schema))
  def alias(a: String): MetaFrame = wrapKeep(df.alias(a))
  def as(a: String): MetaFrame = wrapKeep(df.as(a))

  // ---------------------------------------------------------------- filters

  def filter(condition: Column): MetaFrame = wrapKeep(df.filter(condition))
  def filter(conditionExpr: String): MetaFrame = wrapKeep(df.filter(conditionExpr))
  def where(condition: Column): MetaFrame = wrapKeep(df.where(condition))
  def where(conditionExpr: String): MetaFrame = wrapKeep(df.where(conditionExpr))

  // ------------------------------------------------------ joins (SURVEY §2.2c)
  // Left operand's metadata wins, matching the reference (metaframe.py:114).
  //
  // pk algebra (beyond reference, SURVEY §4.3): a join cannot fan out left
  // rows when (a) it is semi/anti (pure left-row filters), or (b) it is
  // inner/left AND the right side is proven unique on the join keys (each
  // left row matches at most one right row) — in those cases the left's
  // proof survives and downstream dedups still elide.

  /** `rightUnique`: the right side is proven unique on the `using` columns
    * (an expression join never proves it). */
  private def wrapJoin(d: DataFrame, joinType: String, rightUnique: Boolean = false): MetaFrame =
    joinType.replace("_", "").toLowerCase match {
      case "leftsemi" | "semi" | "leftanti" | "anti" => wrapKeep(d)
      case "inner" | "left" | "leftouter" if rightUnique => wrapKeep(d)
      case _ => wrap(d)
    }

  def join(right: MetaFrame): MetaFrame = wrap(df.join(right.df))
  def join(right: MetaFrame, usingColumn: String): MetaFrame =
    join(right, Seq(usingColumn))
  def join(right: MetaFrame, usingColumns: Seq[String]): MetaFrame =
    wrapJoin(df.join(right.df, usingColumns), "inner", right.uniqueOn(usingColumns))
  def join(right: MetaFrame, usingColumns: Seq[String], joinType: String): MetaFrame =
    wrapJoin(df.join(right.df, usingColumns, joinType), joinType, right.uniqueOn(usingColumns))
  def join(right: MetaFrame, joinExprs: Column): MetaFrame =
    wrap(df.join(right.df, joinExprs))
  def join(right: MetaFrame, joinExprs: Column, joinType: String): MetaFrame =
    wrapJoin(df.join(right.df, joinExprs, joinType), joinType)
  def crossJoin(right: MetaFrame): MetaFrame = wrap(df.crossJoin(right.df))
  def join(right: DataFrame, usingColumns: Seq[String], joinType: String): MetaFrame =
    wrapJoin(df.join(right, usingColumns, joinType), joinType)
  def join(right: DataFrame, joinExprs: Column, joinType: String): MetaFrame =
    wrapJoin(df.join(right, joinExprs, joinType), joinType)
  def hint(name: String, parameters: Any*): MetaFrame = wrapKeep(df.hint(name, parameters: _*))

  // ----------------------------------------------- aggregations (SURVEY §2.2d)

  /** String-name grouping infers pk = grouping cols in caller order
    * (reference: metaframe.py:48-50 + 152; order divergence Q2 per SURVEY §7.3). */
  def groupBy(col1: String, cols: String*): MetaGroupedData = {
    val keys = col1 +: cols
    new MetaGroupedData(df.groupBy(col1, cols: _*), metadata + (PrimaryKeyField -> keys), Some(keys))
  }

  /** Column-based grouping: no pk inference (reference Q1 crashes here;
    * we accept and skip inference — SURVEY §7.3). Also covers no-arg
    * `groupBy()` ⇒ no pk (reference Q3, metaframe.py:167-172). */
  def groupBy(cols: Column*): MetaGroupedData =
    new MetaGroupedData(df.groupBy(cols: _*), metadata)

  /** Reference-compat snake/lower-case aliases (`groupby` at metaframe.py:49,
    * `drop_duplicates` at metaframe.py:56-58). */
  def groupby(col1: String, cols: String*): MetaGroupedData = groupBy(col1, cols: _*)
  def groupby(cols: Column*): MetaGroupedData = groupBy(cols: _*)
  def drop_duplicates(colNames: Seq[String]): MetaFrame = dropDuplicates(colNames)
  def drop_duplicates(): MetaFrame = dropDuplicates()

  def rollup(cols: Column*): MetaGroupedData = // no pk (reference Q4)
    new MetaGroupedData(df.rollup(cols: _*), metadata)
  def rollup(col1: String, cols: String*): MetaGroupedData =
    new MetaGroupedData(df.rollup(col1, cols: _*), metadata)
  def cube(cols: Column*): MetaGroupedData =
    new MetaGroupedData(df.cube(cols: _*), metadata)
  def cube(col1: String, cols: String*): MetaGroupedData =
    new MetaGroupedData(df.cube(col1, cols: _*), metadata)
  def groupingSets(sets: Seq[Seq[Column]], cols: Column*): MetaGroupedData = // no pk (like rollup/cube)
    new MetaGroupedData(df.groupingSets(sets, cols: _*), metadata)

  def agg(expr: Column, exprs: Column*): MetaFrame = wrap(df.agg(expr, exprs: _*))
  def agg(exprs: Map[String, String]): MetaFrame = wrap(df.agg(exprs))

  /** True when the frame is PROVEN unique on a subset of `cols`: the proven
    * key is non-empty, every one of its columns is present, and it ⊆ cols. */
  private[graft] def uniqueOn(cols: Seq[String]): Boolean =
    provenKey.exists(pk =>
      pk.nonEmpty && pk.forall(df.columns.contains) && pk.forall(cols.contains))

  /** pk = subset (reference: metaframe.py:51-58, 150-160).
    *
    * pk-aware short-circuit (SURVEY §4.3, beyond reference): when metadata
    * already proves uniqueness on a subset of `colNames`, the deduplication
    * shuffle is a no-op and is elided — an O(1) driver-side rewrite the
    * plan-level optimizer cannot see because the proof lives outside Catalyst. */
  def dropDuplicates(colNames: Seq[String]): MetaFrame =
    if (uniqueOn(colNames)) wrapPk(df, colNames)
    else wrapPk(df.dropDuplicates(colNames), colNames)
  def dropDuplicates(col1: String, cols: String*): MetaFrame =
    dropDuplicates(col1 +: cols)

  /** No-arg ⇒ pk = all columns (reference Q5, metaframe.py:164-165). */
  def dropDuplicates(): MetaFrame =
    if (uniqueOn(df.columns.toSeq)) wrapPk(df, df.columns.toSeq)
    else wrapPk(df.dropDuplicates(), df.columns.toSeq)

  /** pk = all columns (reference Q5, metaframe.py:59, 144-145). Same
    * pk-aware elision as dropDuplicates: unique on pk ⇒ no duplicate rows. */
  def distinct(): MetaFrame =
    if (uniqueOn(df.columns.toSeq)) wrapPk(df, df.columns.toSeq)
    else wrapPk(df.distinct(), df.columns.toSeq)

  def dropDuplicatesWithinWatermark(): MetaFrame = // not in SET_PK_AFTER → no pk
    wrapKeep(df.dropDuplicatesWithinWatermark())
  def dropDuplicatesWithinWatermark(colNames: Seq[String]): MetaFrame =
    wrapKeep(df.dropDuplicatesWithinWatermark(colNames))

  def describe(cols: String*): MetaFrame = wrap(df.describe(cols: _*))
  def summary(statistics: String*): MetaFrame = wrap(df.summary(statistics: _*))

  /** Wide→long reshape (Spark ≥3.4). A row multiplies into one row per value
    * column, so the proof cannot survive. */
  def unpivot(ids: Array[Column], values: Array[Column],
      variableColumnName: String, valueColumnName: String): MetaFrame =
    wrap(df.unpivot(ids, values, variableColumnName, valueColumnName))
  def unpivot(ids: Array[Column], variableColumnName: String, valueColumnName: String): MetaFrame =
    wrap(df.unpivot(ids, variableColumnName, valueColumnName))
  def melt(ids: Array[Column], values: Array[Column],
      variableColumnName: String, valueColumnName: String): MetaFrame =
    wrap(df.melt(ids, values, variableColumnName, valueColumnName))

  /** Spark 4 transpose: rows become columns keyed by the index column (first
    * column when unspecified). The output's row identity is the former
    * column axis, so any proof is necessarily gone — plain [[wrap]].
    * Driver-materializes the index values (Spark's own contract: at most
    * `spark.sql.transposeMaxValues` of them) — a reshape for small frames,
    * not a distributed pivot. */
  def transpose(): MetaFrame = wrap(df.transpose())
  def transpose(indexColumn: Column): MetaFrame = wrap(df.transpose(indexColumn))

  // ------------------------------------------- sorts / limits (SURVEY §2.2f)

  def sort(sortExprs: Column*): MetaFrame = wrapKeep(df.sort(sortExprs: _*))
  def sort(sortCol: String, sortCols: String*): MetaFrame = wrapKeep(df.sort(sortCol, sortCols: _*))
  def orderBy(sortExprs: Column*): MetaFrame = wrapKeep(df.orderBy(sortExprs: _*))
  def orderBy(sortCol: String, sortCols: String*): MetaFrame =
    wrapKeep(df.orderBy(sortCol, sortCols: _*))
  def sortWithinPartitions(sortExprs: Column*): MetaFrame =
    wrapKeep(df.sortWithinPartitions(sortExprs: _*))
  def limit(n: Int): MetaFrame = wrapKeep(df.limit(n))
  def offset(n: Int): MetaFrame = wrapKeep(df.offset(n))

  // -------------------------------------------------- set ops (SURVEY §2.2g)

  def union(other: MetaFrame): MetaFrame = wrap(df.union(other.df))
  def unionAll(other: MetaFrame): MetaFrame = wrap(df.unionAll(other.df))
  def unionByName(other: MetaFrame): MetaFrame = wrap(df.unionByName(other.df))
  def unionByName(other: MetaFrame, allowMissingColumns: Boolean): MetaFrame =
    wrap(df.unionByName(other.df, allowMissingColumns))
  def intersect(other: MetaFrame): MetaFrame = wrapKeep(df.intersect(other.df))
  def intersectAll(other: MetaFrame): MetaFrame = wrapKeep(df.intersectAll(other.df))
  def except(other: MetaFrame): MetaFrame = wrapKeep(df.except(other.df))
  def exceptAll(other: MetaFrame): MetaFrame = wrapKeep(df.exceptAll(other.df))
  /** PySpark-name alias for [[except]] (`subtract` is delegated by the
    * reference router like any other member, metaframe.py:77-89). */
  def subtract(other: MetaFrame): MetaFrame = except(other)

  // ------------------------------- partitioning / sampling (SURVEY §2.2i)

  def repartition(numPartitions: Int): MetaFrame = wrapKeep(df.repartition(numPartitions))
  def repartition(numPartitions: Int, partitionExprs: Column*): MetaFrame =
    wrapKeep(df.repartition(numPartitions, partitionExprs: _*))
  def repartition(partitionExprs: Column*): MetaFrame =
    wrapKeep(df.repartition(partitionExprs: _*))
  def repartitionByRange(numPartitions: Int, partitionExprs: Column*): MetaFrame =
    wrapKeep(df.repartitionByRange(numPartitions, partitionExprs: _*))
  def repartitionByRange(partitionExprs: Column*): MetaFrame =
    wrapKeep(df.repartitionByRange(partitionExprs: _*))
  def coalesce(numPartitions: Int): MetaFrame = wrapKeep(df.coalesce(numPartitions))
  def sample(fraction: Double): MetaFrame = wrapKeep(df.sample(fraction))
  def sample(fraction: Double, seed: Long): MetaFrame = wrapKeep(df.sample(fraction, seed))
  /** Sampling with replacement can repeat a row, so it drops the proof. */
  def sample(withReplacement: Boolean, fraction: Double, seed: Long): MetaFrame = {
    val d = df.sample(withReplacement, fraction, seed)
    if (withReplacement) wrap(d) else wrapKeep(d)
  }

  /** Divergence: reference returns a raw list (metadata lost, SURVEY §2.2i);
    * we keep metadata on every split. */
  def randomSplit(weights: Array[Double], seed: Long): Seq[MetaFrame] =
    df.randomSplit(weights, seed).toSeq.map(wrapKeep)
  def randomSplit(weights: Array[Double]): Seq[MetaFrame] =
    df.randomSplit(weights).toSeq.map(wrapKeep)

  def transform(f: MetaFrame => MetaFrame): MetaFrame = f(this)
  def observe(name: String, expr: Column, exprs: Column*): MetaFrame =
    wrapKeep(df.observe(name, expr, exprs: _*))
  def observe(observation: org.apache.spark.sql.Observation, expr: Column, exprs: Column*): MetaFrame =
    wrapKeep(df.observe(observation, expr, exprs: _*))

  /** Df-level partition-wise transform — the JVM analogue of the
    * `mapInPandas`/`mapInArrow` batch escape hatch the reference routes
    * through its wrapper (metaframe.py:77-89, re-wrap at :113-114): the
    * function sees each partition as one row iterator (per-partition init,
    * batch iteration, no driver involvement) and declares its output schema
    * explicitly. Metadata propagates; the proof is dropped — an arbitrary
    * partition function can add, remove or rewrite rows. */
  def mapPartitions(schema: StructType)(f: Iterator[Row] => Iterator[Row]): MetaFrame =
    wrap(df.mapPartitions(f)(Encoders.row(schema)).toDF())

  // ------------------------------ typed escape hatch (encoder-carrying, §2.2i)
  // The reference has no typed API (Python), but the Scala engine must not
  // make `as[T]`/`map` a silent metadata-loss path — the §1.2 failure mode
  // the na/stat/writer facades close. Each forwarder decodes, transforms,
  // and re-encodes WITHOUT leaving the metadata layer; the proof is dropped
  // (an arbitrary row function can add, remove or rewrite keys)
  // except for typed FILTERS, which can only keep or remove whole rows.

  /** Raw typed view — returns a bare Dataset[T], so metadata is LOST by
    * construction (same contract as `df`). Prefer [[mapTyped]] /
    * [[flatMapTyped]] / [[filterTyped]] / [[mapGroupsTyped]] to stay in the
    * metadata layer. */
  def asTyped[T: Encoder]: Dataset[T] = df.as[T]

  /** Row-level map with an explicit result encoder (metadata kept). */
  def map[U: Encoder](f: Row => U): MetaFrame = wrap(df.map(f).toDF())

  /** Row-level flatMap with an explicit result encoder (metadata kept). */
  def flatMap[U: Encoder](f: Row => IterableOnce[U]): MetaFrame = wrap(df.flatMap(f).toDF())

  /** Fully typed map: decode each row to `T`, transform to `U`, re-encode —
    * the typed-pipeline shape without dropping to `.df.as[T]`. */
  def mapTyped[T: Encoder, U: Encoder](f: T => U): MetaFrame =
    wrap(df.as[T].map(f).toDF())

  /** Fully typed flatMap (metadata kept, proof dropped). */
  def flatMapTyped[T: Encoder, U: Encoder](f: T => IterableOnce[U]): MetaFrame =
    wrap(df.as[T].flatMap(f).toDF())

  /** Typed predicate filter: a pure row subset, so pk metadata AND the
    * proof survive — same rule as the Column filter. */
  def filterTyped[T: Encoder](f: T => Boolean): MetaFrame =
    wrapKeep(df.as[T].filter(f).toDF())

  /** Typed groupByKey → mapGroups (the `KeyValueGroupedDataset` analogue):
    * one output row per distinct key by construction, but the key is not
    * re-observable in the output schema in general, so no pk is claimed. */
  def mapGroupsTyped[T: Encoder, K: Encoder, U: Encoder](
      keyFn: T => K)(f: (K, Iterator[T]) => U): MetaFrame =
    wrap(df.as[T].groupByKey(keyFn).mapGroups(f).toDF())

  /** Typed groupByKey → flatMapGroups (metadata kept). */
  def flatMapGroupsTyped[T: Encoder, K: Encoder, U: Encoder](
      keyFn: T => K)(f: (K, Iterator[T]) => IterableOnce[U]): MetaFrame =
    wrap(df.as[T].groupByKey(keyFn).flatMapGroups(f).toDF())

  // ------------------------------------------------- caching / persistence

  def cache(): MetaFrame = wrapKeep(df.cache())
  def persist(): MetaFrame = wrapKeep(df.persist())
  def persist(level: StorageLevel): MetaFrame = wrapKeep(df.persist(level))
  def unpersist(): MetaFrame = wrapKeep(df.unpersist())
  def unpersist(blocking: Boolean): MetaFrame = wrapKeep(df.unpersist(blocking))
  def checkpoint(): MetaFrame = wrapKeep(df.checkpoint())
  def checkpoint(eager: Boolean): MetaFrame = wrapKeep(df.checkpoint(eager))
  def localCheckpoint(): MetaFrame = wrapKeep(df.localCheckpoint())
  def localCheckpoint(eager: Boolean): MetaFrame = wrapKeep(df.localCheckpoint(eager))

  // ---------------------------------------------------------------- streaming

  def isStreaming: Boolean = df.isStreaming
  def withWatermark(eventTime: String, delayThreshold: String): MetaFrame =
    wrapKeep(df.withWatermark(eventTime, delayThreshold))

  /** Metadata-carrying streaming writer (divergence per SURVEY §7.3 — the
    * reference's `writeStream` always returns a raw, metadata-less writer). */
  def writeStream: graft.streaming.MetaStreamWriter =
    graft.streaming.MetaStreamWriter(this)

  // ------------------------------------------- facades (divergences, §7.3)

  /** Metadata-preserving na facade (reference loses metadata via raw `.na`). */
  def na: MetaNaFunctions = new MetaNaFunctions(df.na, this)

  // PySpark-name aliases (`fillna`/`dropna` are delegated by the reference
  // router, metaframe.py:77-89, so its users call them directly on the
  // frame; here they ride the metadata-keeping na facade — same
  // improvement-over-reference contract as the facade itself, same proof
  // rules: fill mutates values → proof dropped, drop only removes rows →
  // proof kept)
  def fillna(value: Long): MetaFrame = na.fill(value)
  def fillna(value: Double): MetaFrame = na.fill(value)
  def fillna(value: String): MetaFrame = na.fill(value)
  def fillna(value: Boolean): MetaFrame = na.fill(value)
  def fillna(value: Long, subset: Seq[String]): MetaFrame = na.fill(value, subset)
  def fillna(value: Double, subset: Seq[String]): MetaFrame = na.fill(value, subset)
  def fillna(value: String, subset: Seq[String]): MetaFrame = na.fill(value, subset)
  def fillna(valueMap: Map[String, Any]): MetaFrame = na.fill(valueMap)
  def dropna(): MetaFrame = na.drop()
  def dropna(how: String): MetaFrame = na.drop(how)
  def dropna(subset: Seq[String]): MetaFrame = na.drop(subset)
  def dropna(minNonNulls: Int): MetaFrame = na.drop(minNonNulls)

  /** Metadata-preserving stat facade (reference loses metadata via raw `.stat`). */
  def stat: MetaStatFunctions = new MetaStatFunctions(df.stat, this)

  /** Metadata-carrying writer (reference: raw `.write` loses metadata; manual
    * `MetaFrame(df.write, m)` wrap supported at metaframe.py:39-41). */
  def write: MetaWriter = new MetaWriter(df.write, metadata)

  /** Metadata-carrying V2 writer (`writeTo` is delegated by the reference
    * router like any other member, metaframe.py:77-89): fluent config is
    * wrapped, terminal ops are raw — the catalog table does not persist the
    * metadata map (document-lost per SURVEY §7.3; use `MetaPersist` for a
    * sidecar when provenance must survive the write). */
  def writeTo(table: String): MetaWriterV2 = new MetaWriterV2(df.writeTo(table), metadata)

  // --------------------------------------- actions / introspection (raw, §2.2i)

  def schema: StructType = df.schema
  def columns: Array[String] = df.columns
  def dtypes: Array[(String, String)] = df.dtypes
  def count(): Long = df.count()
  def collect(): Array[Row] = df.collect()
  def head(n: Int): Array[Row] = df.head(n)
  def head(): Row = df.head()
  def first(): Row = df.first()
  def take(n: Int): Array[Row] = df.take(n)
  def tail(n: Int): Array[Row] = df.tail(n)
  def isEmpty: Boolean = df.isEmpty
  def isLocal: Boolean = df.isLocal
  def inputFiles: Array[String] = df.inputFiles
  def sameSemantics(other: MetaFrame): Boolean = df.sameSemantics(other.df)
  def semanticHash(): Int = df.semanticHash()
  def storageLevel: StorageLevel = df.storageLevel
  def show(): Unit = df.show()
  def show(n: Int): Unit = df.show(n)
  def show(n: Int, truncate: Boolean): Unit = df.show(n, truncate)
  def show(n: Int, truncate: Int): Unit = df.show(n, truncate)
  def show(n: Int, truncate: Int, vertical: Boolean): Unit = df.show(n, truncate, vertical)
  def printSchema(): Unit = df.printSchema()
  def printSchema(level: Int): Unit = df.printSchema(level)
  /** Raw RDD escape hatch — delegated raw by the reference (metadata LOST
    * by construction, the `df` contract); the typed forwarders
    * ([[mapTyped]]/[[filterTyped]]/…) are the metadata-keeping path. */
  def rdd: org.apache.spark.rdd.RDD[Row] = df.rdd
  def explain(): Unit = df.explain()
  def explain(mode: String): Unit = df.explain(mode)
  def toJSON: Dataset[String] = df.toJSON
  def toLocalIterator(): java.util.Iterator[Row] = df.toLocalIterator()
  def foreach(f: Row => Unit): Unit = df.foreach(f)
  def foreachPartition(f: Iterator[Row] => Unit): Unit = df.foreachPartition(f)
  /** METADATA BOUNDARY (deliberate, pinned in MetadataLawsSpec): a view
    * registers only the underlying plan — reading it back via
    * `spark.sql(...)` returns a bare DataFrame, so the metadata map (and
    * pk) do NOT round-trip through the catalog. The reference has the
    * identical hole (its router delegates the registration and `sql`
    * returns a raw frame). Re-wrap with `MetaFrame(spark.sql(...), m)` or
    * persist provenance with `MetaPersist` when it must survive. The
    * re-wrap is safe whatever the query does: it restores the metadata but
    * never a proof, so its dedups always run. */
  def createOrReplaceTempView(name: String): Unit = df.createOrReplaceTempView(name)
  def createTempView(name: String): Unit = df.createTempView(name)
  def createGlobalTempView(name: String): Unit = df.createGlobalTempView(name)
  def createOrReplaceGlobalTempView(name: String): Unit =
    df.createOrReplaceGlobalTempView(name)
  def sparkSession: SparkSession = df.sparkSession
}

object MetaFrame {
  /** The one semantically distinguished metadata key (metaframe.py:188-197). */
  val PrimaryKeyField = "primary_key"

  /** The one kind of frame that carries a proof. A subclass, so `copy`,
    * equality and the two-field pattern stay those of the case class (and a
    * `copy` is unproven). */
  private final class Proven(df: DataFrame, metadata: Map[String, Any],
      override private[graft] val provenKey: Option[Seq[String]])
      extends MetaFrame(df, metadata)

  /** `df` with `metadata`, proven unique on `key` when one is given. */
  private[graft] def provenFrame(df: DataFrame, metadata: Map[String, Any],
      key: Option[Seq[String]]): MetaFrame =
    if (key.isEmpty) MetaFrame(df, metadata) else new Proven(df, metadata, key)

  /** A derived frame over `df`: `primary_key` set to `pk` (removed when
    * None), proven exactly when `proven` and a key is set. The proof is
    * decided by the caller through [[MetaFrame.uniqueOn]]; this is the one
    * maker of a proof outside the forwarders. */
  private[graft] def keyed(df: DataFrame, metadata: Map[String, Any],
      pk: Option[Seq[String]], proven: Boolean): MetaFrame =
    provenFrame(df, pk.fold(metadata - PrimaryKeyField)(cols => metadata + (PrimaryKeyField -> cols)),
      pk.filter(_ => proven))

  /** reference: default metadata `{}` (metaframe.py:66-69). */
  def apply(df: DataFrame): MetaFrame = MetaFrame(df, Map.empty)

  private[graft] def countGenerates(d: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    d.queryExecution.analyzed.collect { case g: Generate => g }.size
  }
}

/** Wrapper for `RelationalGroupedDataset` — the reference wraps `GroupedData`
  * the same way (`RETURNED_CLASSES`, metaframe.py:46) so that pk metadata set
  * by `groupBy` flows into the subsequent `.agg` result (quirk Q6,
  * metaframe.py:115-116; test_metaframe.py:119-123). */
final class MetaGroupedData private[graft] (val gd: RelationalGroupedDataset,
    val metadata: Map[String, Any], provenKey: Option[Seq[String]]) {
  def this(gd: RelationalGroupedDataset, metadata: Map[String, Any]) = this(gd, metadata, None)
  @inline private def wrap(d: DataFrame): MetaFrame = MetaFrame.provenFrame(d, metadata, provenKey)

  def agg(expr: Column, exprs: Column*): MetaFrame = wrap(gd.agg(expr, exprs: _*))
  def agg(exprs: Map[String, String]): MetaFrame = wrap(gd.agg(exprs))
  def agg(aggExpr: (String, String), aggExprs: (String, String)*): MetaFrame =
    wrap(gd.agg(aggExpr, aggExprs: _*))
  def count(): MetaFrame = wrap(gd.count())
  def mean(colNames: String*): MetaFrame = wrap(gd.mean(colNames: _*))
  def avg(colNames: String*): MetaFrame = wrap(gd.avg(colNames: _*))
  def max(colNames: String*): MetaFrame = wrap(gd.max(colNames: _*))
  def min(colNames: String*): MetaFrame = wrap(gd.min(colNames: _*))
  def sum(colNames: String*): MetaFrame = wrap(gd.sum(colNames: _*))
  def pivot(pivotColumn: String): MetaGroupedData =
    new MetaGroupedData(gd.pivot(pivotColumn), metadata, provenKey)
  def pivot(pivotColumn: String, values: Seq[Any]): MetaGroupedData =
    new MetaGroupedData(gd.pivot(pivotColumn, values), metadata, provenKey)
  def pivot(pivotColumn: Column): MetaGroupedData =
    new MetaGroupedData(gd.pivot(pivotColumn), metadata, provenKey)
  def pivot(pivotColumn: Column, values: Seq[Any]): MetaGroupedData =
    new MetaGroupedData(gd.pivot(pivotColumn, values), metadata, provenKey)
}

/** Metadata-carrying DataFrameWriterV2 facade (V2 catalogs — Iceberg/Delta
  * style `writeTo(...).create()/append()/overwrite(...)`): fluent config
  * wrapped, terminal ops raw, same shape as [[MetaWriter]]. */
final class MetaWriterV2(val w: DataFrameWriterV2[Row], val metadata: Map[String, Any]) {
  @inline private def wrap(nw: DataFrameWriterV2[Row]): MetaWriterV2 = new MetaWriterV2(nw, metadata)
  def using(provider: String): MetaWriterV2 = wrap(w.using(provider))
  def option(key: String, value: String): MetaWriterV2 = wrap(w.option(key, value))
  def options(opts: Map[String, String]): MetaWriterV2 = wrap(w.options(opts))
  def tableProperty(property: String, value: String): MetaWriterV2 =
    wrap(w.tableProperty(property, value))
  def partitionedBy(column: Column, columns: Column*): MetaWriterV2 =
    wrap(w.partitionedBy(column, columns: _*))
  def create(): Unit = w.create()
  def replace(): Unit = w.replace()
  def createOrReplace(): Unit = w.createOrReplace()
  def append(): Unit = w.append()
  def overwrite(condition: Column): Unit = w.overwrite(condition)
  def overwritePartitions(): Unit = w.overwritePartitions()
}

/** Metadata-carrying writer facade (SURVEY §2.2a: fluent config wrapped,
  * terminal ops raw — mirrors `MetaFrame(df.write, m)` support at
  * metaframe.py:39-41, 46). */
final class MetaWriter(val w: DataFrameWriter[Row], val metadata: Map[String, Any]) {
  @inline private def wrap(nw: DataFrameWriter[Row]): MetaWriter = new MetaWriter(nw, metadata)
  def mode(saveMode: String): MetaWriter = wrap(w.mode(saveMode))
  def format(source: String): MetaWriter = wrap(w.format(source))
  def option(key: String, value: String): MetaWriter = wrap(w.option(key, value))
  def options(opts: Map[String, String]): MetaWriter = wrap(w.options(opts))
  def partitionBy(colNames: String*): MetaWriter = wrap(w.partitionBy(colNames: _*))
  def bucketBy(numBuckets: Int, colName: String, colNames: String*): MetaWriter =
    wrap(w.bucketBy(numBuckets, colName, colNames: _*))
  def sortBy(colName: String, colNames: String*): MetaWriter =
    wrap(w.sortBy(colName, colNames: _*))
  def save(path: String): Unit = w.save(path)
  def save(): Unit = w.save()
  def parquet(path: String): Unit = w.parquet(path)
  def orc(path: String): Unit = w.orc(path)
  def json(path: String): Unit = w.json(path)
  def csv(path: String): Unit = w.csv(path)
  def saveAsTable(tableName: String): Unit = w.saveAsTable(tableName)
  def insertInto(tableName: String): Unit = w.insertInto(tableName)
  def text(path: String): Unit = w.text(path)
  def jdbc(url: String, table: String, connectionProperties: java.util.Properties): Unit =
    w.jdbc(url, table, connectionProperties)
}

/** Metadata-preserving facade over `DataFrameNaFunctions` (divergence: the
  * reference returns the raw object and loses metadata — SURVEY §1.2). */
final class MetaNaFunctions(val na: DataFrameNaFunctions, parent: MetaFrame) {
  // fill/replace mutate values (could collide pk values) → the parent's
  // proof-dropping rewrap; drop() only removes rows → its row-keeping one.
  import parent.{wrap, wrapKeep}
  def fill(value: Long): MetaFrame = wrap(na.fill(value))
  def fill(value: Double): MetaFrame = wrap(na.fill(value))
  def fill(value: String): MetaFrame = wrap(na.fill(value))
  def fill(value: Boolean): MetaFrame = wrap(na.fill(value))
  def fill(value: Long, cols: Seq[String]): MetaFrame = wrap(na.fill(value, cols))
  def fill(value: Double, cols: Seq[String]): MetaFrame = wrap(na.fill(value, cols))
  def fill(value: String, cols: Seq[String]): MetaFrame = wrap(na.fill(value, cols))
  def fill(valueMap: Map[String, Any]): MetaFrame = wrap(na.fill(valueMap))
  def drop(): MetaFrame = wrapKeep(na.drop())
  def drop(how: String): MetaFrame = wrapKeep(na.drop(how))
  def drop(cols: Seq[String]): MetaFrame = wrapKeep(na.drop(cols))
  def drop(minNonNulls: Int): MetaFrame = wrapKeep(na.drop(minNonNulls))
  def replace[T](col: String, replacement: Map[T, T]): MetaFrame =
    wrap(na.replace(col, replacement))
  def replace[T](cols: Seq[String], replacement: Map[T, T]): MetaFrame =
    wrap(na.replace(cols, replacement))
}

/** Metadata-preserving facade over `DataFrameStatFunctions` (same divergence). */
final class MetaStatFunctions(val stat: DataFrameStatFunctions, parent: MetaFrame) {
  // crosstab/freqItems build new frames; sampleBy only removes rows
  import parent.{wrap, wrapKeep}
  def approxQuantile(col: String, probabilities: Array[Double], relativeError: Double): Array[Double] =
    stat.approxQuantile(col, probabilities, relativeError)
  def approxQuantile(cols: Array[String], probabilities: Array[Double],
      relativeError: Double): Array[Array[Double]] =
    stat.approxQuantile(cols, probabilities, relativeError)
  def cov(col1: String, col2: String): Double = stat.cov(col1, col2)
  def corr(col1: String, col2: String): Double = stat.corr(col1, col2)
  def corr(col1: String, col2: String, method: String): Double = stat.corr(col1, col2, method)
  def crosstab(col1: String, col2: String): MetaFrame = wrap(stat.crosstab(col1, col2))
  def freqItems(cols: Seq[String]): MetaFrame = wrap(stat.freqItems(cols))
  def freqItems(cols: Seq[String], support: Double): MetaFrame =
    wrap(stat.freqItems(cols, support))
  def sampleBy[T](col: String, fractions: Map[T, Double], seed: Long): MetaFrame =
    wrapKeep(stat.sampleBy(col, fractions, seed))
  // sketch builders are terminal actions (driver-side sketch objects, no
  // frame to re-wrap) — forwarded raw like the other scalar stat members
  def bloomFilter(colName: String, expectedNumItems: Long, fpp: Double): sketch.BloomFilter =
    stat.bloomFilter(colName, expectedNumItems, fpp)
  def bloomFilter(col: Column, expectedNumItems: Long, fpp: Double): sketch.BloomFilter =
    stat.bloomFilter(col, expectedNumItems, fpp)
  def bloomFilter(colName: String, expectedNumItems: Long, numBits: Long): sketch.BloomFilter =
    stat.bloomFilter(colName, expectedNumItems, numBits)
  def bloomFilter(col: Column, expectedNumItems: Long, numBits: Long): sketch.BloomFilter =
    stat.bloomFilter(col, expectedNumItems, numBits)
  def countMinSketch(colName: String, depth: Int, width: Int, seed: Int): sketch.CountMinSketch =
    stat.countMinSketch(colName, depth, width, seed)
  def countMinSketch(colName: String, eps: Double, confidence: Double, seed: Int): sketch.CountMinSketch =
    stat.countMinSketch(colName, eps, confidence, seed)
  def countMinSketch(col: Column, depth: Int, width: Int, seed: Int): sketch.CountMinSketch =
    stat.countMinSketch(col, depth, width, seed)
  def countMinSketch(col: Column, eps: Double, confidence: Double, seed: Int): sketch.CountMinSketch =
    stat.countMinSketch(col, eps, confidence, seed)
}
