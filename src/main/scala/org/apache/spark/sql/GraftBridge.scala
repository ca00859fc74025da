package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{BucketingUtils, DataSourceStrategy, DataSourceUtils, FileFormat, FilePartition, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.types.{StructField, StructType}

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the supported way for libraries to expose custom Catalyst expressions
  * as user-facing Columns on Spark 4 (Column no longer carries `.expr`) —
  * and into the file-scan internals a driver-side point read
  * (`graft.operators.PointRead`) shares with Spark's own scan: bucket
  * pruning, file splits and the parquet reader. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a catalyst Expression (the plain
    * [[expression]] wrapper is LAZY — a `ColumnNodeExpression` holding the
    * non-serializable internal column node, which breaks when captured in
    * an executor closure; this runs the classic converter up front so
    * `.desc`/`.asc` columns become real catalyst `SortOrder`s). */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Analyzed logical plan of a DataFrame (for building custom logical
    * operators on top of it). */
  def analyzedPlan(df: Dataset[Row]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame (runs the analyzer). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The file splits a Spark scan of `fs` under `filters` reads, in the
    * order its tasks read them: the listing pruned to the buckets the
    * filters select, split at the session's max split size, largest split
    * first (a scan that needs no bucket distribution reads a bucketed
    * table as plain files). */
  def pointReadFiles(
      rel: LogicalRelation, fs: HadoopFsRelation,
      filters: Seq[Expression]): Seq[PartitionedFile] = {
    val spark = fs.sparkSession
    val buckets = for {
      spec <- fs.bucketSpec
      if spark.sessionState.conf.bucketingEnabled &&
        spec.bucketColumnNames.length == 1 && spec.numBuckets > 1
      column <- rel.output.find(_.name == spec.bucketColumnNames.head)
      ids <- bucketIds(filters, column, spec.numBuckets)
    } yield ids
    val dirs = fs.location.listFiles(Nil, filters).map(d => d.copy(files = d.files.filter(f =>
      buckets.forall(b => BucketingUtils.getBucketId(f.getPath.getName).forall(b)))))
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    dirs.flatMap(d => d.files.flatMap(f =>
        PartitionedFileUtil.splitFiles(f, f.getPath, isSplitable = true, maxSplit, d.values)))
      .sortBy(_.length)(Ordering[Long].reverse)
  }

  /** The buckets that hold every row `filters` keep, from their equality
    * and `IN` conjuncts on the bucket column; `None` when no conjunct
    * bounds it. */
  private def bucketIds(
      filters: Seq[Expression], column: Attribute, nBuckets: Int): Option[Set[Int]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def id(v: Any): Int = BucketingUtils.getBucketIdFromValue(column, nBuckets, v)
    def on(e: Expression): Boolean = e.semanticEquals(column)
    filters.flatMap(conjuncts).collect {
      case EqualTo(a, Literal(v, t)) if on(a) && t == column.dataType => Set(id(v))
      case EqualTo(Literal(v, t), a) if on(a) && t == column.dataType => Set(id(v))
      case In(a, vs) if on(a) && vs.forall {
          case Literal(_, t) => t == column.dataType
          case _ => false
        } => vs.map(l => id(l.asInstanceOf[Literal].value)).toSet
      case InSet(a, vs) if on(a) => vs.map(id)
    }.reduceOption(_ intersect _)
  }

  /** Spark's own reader of `fs`'s files (row at a time, `required`
    * columns, `filters` pushed to footers and row groups), built as a
    * file scan builds it, for a read on the driver. */
  def parquetReader(
      fs: HadoopFsRelation, required: Seq[Attribute],
      filters: Seq[Expression]): PartitionedFile => Iterator[InternalRow] = {
    val spark = fs.sparkSession
    val nested = DataSourceUtils.supportNestedPredicatePushdown(fs)
    fs.fileFormat.buildReaderWithPartitionValues(spark, fs.dataSchema, fs.partitionSchema,
      StructType(required.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata))),
      filters.flatMap(DataSourceStrategy.translateFilter(_, nested)),
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(fs.options))
  }
}
