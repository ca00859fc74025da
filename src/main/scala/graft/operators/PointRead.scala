package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** A bounded point read evaluated on the driver: no Spark job, no codegen.
  *
  * A single-query probe of a loaded index reads a few kilobytes, and at
  * that size a Spark job is almost all fixed cost: planning, the
  * whole-stage-codegen compiles, then a job of 10–65 ms per read (the
  * warm per-job floor on 4 cores is 46–93 ms). [[collect]] answers such a
  * read where it is planned: when the frame's optimized plan is a
  * non-partitioned parquet file scan under `Filter`/`Project`, optionally
  * topped by `Sort` + `Limit` and a final `Project`, and the scan's files
  * total at most [[MaxBytes]] after bucket pruning, it reads those files
  * with Spark's own `ParquetFileFormat` reader and the pushed filters, on
  * up to one thread per driver core, keeps the rows in the order a Spark
  * scan reads them, and applies the filter, projection
  * and ordering as interpreted expressions. It returns exactly the rows
  * `df.collect()` returns, and `None` for any other plan: an in-memory
  * frame, a join, an aggregate, a partitioned or non-parquet relation, a
  * nondeterministic expression, a streaming frame, or a read past the
  * cap. The caller then runs the frame as it always did.
  *
  * The cap is decided from the file listing alone, before a byte is read,
  * so a read of a 100 TB index past its bucket pruning is planned by Spark
  * exactly as before. */
private[graft] object PointRead {

  /** Largest scan (listed file bytes after bucket pruning) read on the
    * driver. Measured on 4 cores with a warm JVM (median of 21 reads
    * after 40): flat IVF-layout files of (id, list, 64-d float vector),
    * four files per index, read whole under an `ivfTopK` plan whose
    * `list IN (…)` keeps every row. The driver read took 30 ms at 1 MB,
    * 35 ms at 4 MB, 49 ms at 8 MB, 79 ms at 16 MB and 106 ms at 24 MB;
    * the one-job Spark read it replaces took 59, 62, 70, 97 and 108 ms.
    * They cross between 16 and 24 MB; the cap sits at the lower end. */
  val MaxBytes: Long = 16L << 20

  /** The cap decision, from the listed sizes of the files a scan reads. */
  def admits(fileBytes: Seq[Long]): Boolean = fileBytes.sum <= MaxBytes

  /** The rows `df.collect()` returns, read on the driver; `None` when the
    * plan is not a bounded point read. */
  def collect(df: DataFrame): Option[Array[Row]] =
    evaluate(df).map { case (plan, rows) =>
      val toRow = CatalystTypeConverters.createToScalaConverter(plan.schema)
      rows.map(r => toRow(r).asInstanceOf[Row]).toArray
    }

  /** `df` as a local frame over the rows [[collect]] reads; `df` itself
    * when the plan is not a bounded point read. */
  def local(df: DataFrame): DataFrame = evaluate(df) match {
    case Some((plan, rows)) =>
      GraftBridge.ofRows(df.sparkSession, LocalRelation(plan.output.map(_.newInstance()), rows))
    case None => df
  }

  private def evaluate(df: DataFrame): Option[(LogicalPlan, Seq[InternalRow])] =
    if (df.isStreaming) None
    else {
      val plan = df.queryExecution.optimizedPlan
      shape(plan).flatMap(_.run()).map(plan -> _)
    }

  /** A plan this reader evaluates: `top` over the first `limit` rows in
    * `order` of `projects` over the `filters`-ed scan of `rel`. */
  private final case class Shape(
      top: Option[Seq[NamedExpression]], order: Seq[SortOrder], limit: Option[Int],
      projects: Seq[NamedExpression], filters: Seq[Expression],
      rel: LogicalRelation, fs: HadoopFsRelation) {

    def run(): Option[Seq[InternalRow]] = {
      val refs = AttributeSet((projects ++ filters).flatMap(_.references))
      val required = rel.output.filter(refs.contains)
      lazy val files = GraftBridge.pointReadFiles(rel, fs, filters)
      if (!(top.toSeq.flatten ++ order ++ projects ++ filters).forall(evaluable) ||
          required.size != refs.size || !required.forall(a => fs.dataSchema.names.contains(a.name)) ||
          !admits(files.map(_.length))) None
      else {
        val read = GraftBridge.parquetReader(fs, required, filters)
        val condition = BindReferences.bindReference(
          filters.reduceOption(And).getOrElse(Literal.TrueLiteral), required)
        // Lane `l` of `n` reads every n-th file, with evaluators over its
        // own copy of the expressions: like a task's deserialized copy, no
        // expression state is shared between threads.
        def lane(l: Int, n: Int): () => Seq[(Int, Vector[InternalRow])] = () => {
          val keep = Predicate.createInterpreted(condition.clone())
          val project = owned(projects, required)
          (l until files.size by n).map { i =>
            val it = read(files(i))
            try i -> it.filter(keep.eval).map(project).toVector
            finally it match {
              case c: java.io.Closeable => c.close()
              case _ =>
            }
          }
        }
        // Each file pays a fixed open (footer, reader set-up, a copy of
        // the Hadoop conf) of 1-2 ms: the files are read on up to one
        // thread per driver core, and the rows kept in the scan's order.
        val n = math.min(files.size, Runtime.getRuntime.availableProcessors)
        val lanes =
          if (n <= 1) Seq(lane(0, 1)())
          else Similarity.inParallel((0 until n).map(lane(_, n)): _*)
        val scanned = lanes.flatten.sortBy(_._1).iterator.flatMap(_._2)
        val out = projects.map(_.toAttribute)
        lazy val ord = new InterpretedOrdering(order.map(o => BindReferences.bindReference(o, out)))
        val rows = (order.isEmpty, limit) match {
          case (true, _) => scanned.toVector
          case (false, None) => scanned.toVector.sorted(ord)
          case (false, Some(n)) => smallest(scanned, n, ord)
        }
        Some(top.fold(rows)(t => rows.map(owned(t, out))))
      }
    }
  }

  /** The first `n` of `rows` in `ord`, through a bounded heap: the
    * ordered top-k a `Sort` + `Limit` plans as `TakeOrderedAndProject`. */
  private def smallest(
      rows: Iterator[InternalRow], n: Int, ord: Ordering[InternalRow]): Seq[InternalRow] = {
    val heap = new java.util.PriorityQueue[InternalRow](math.max(n, 1), ord.reverse)
    rows.foreach { r =>
      if (heap.size < n) heap.add(r)
      else if (n > 0 && ord.lt(r, heap.peek)) { heap.poll(); heap.add(r) }
    }
    heap.toArray(Array.empty[InternalRow]).toVector.sorted(ord)
  }

  /** A projection whose rows own their values: the scan's rows are
    * reused column-vector views, so every kept row is copied out. */
  private def owned(exprs: Seq[NamedExpression], input: Seq[Attribute]): InternalRow => InternalRow = {
    val p = InterpretedUnsafeProjection.createProjection(
      exprs.map(e => BindReferences.bindReference[Expression](e.clone(), input)))
    r => p(r).copy()
  }

  /** Deterministic, with no subquery: an expression the driver evaluates
    * exactly as a task would. */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  private def shape(plan: LogicalPlan): Option[Shape] = {
    val (top, below) = plan match {
      case Project(out, c @ (_: GlobalLimit | _: Sort)) => (Some(out), c)
      case c => (None, c)
    }
    val (order, limit, scan) = below match {
      case GlobalLimit(IntegerLiteral(n), LocalLimit(IntegerLiteral(m), Sort(o, true, s, _)))
          if n == m => (o, Some(n), s)
      case Sort(o, true, s, _) => (o, None, s)
      case s => (Nil, None, s)
    }
    scan match {
      case PhysicalOperation(projects, filters, rel: LogicalRelation) if !rel.isStreaming =>
        rel.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty =>
            Some(Shape(top, order, limit, projects, filters, rel, fs))
          case _ => None
        }
      case _ => None
    }
  }
}
