package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The file side every durable index shares — every [[PathIndex]]
  * family: where a write's rows go ([[placed]]), what a dead job left in a
  * directory ([[clearUncommitted]]), how the small artifacts are read
  * back ([[dataFiles]], [[readRows]]) and the stripe interval each data
  * file covers ([[intervals]]).
  *
  * '''Placement.''' Every index writer lands its rows in stripes: an IVF
  * or IVF+PQ posting list and an LSH bucket (the flat sorted layout), a
  * MinHash table bucket (`bucketBy`), all through [[PathIndex]]'s one
  * writer. A write
  * task that holds a whole stripe writes it as ONE file, so every writer
  * clusters its rows by stripe first. [[placed]] is that clustering for
  * all of them: it gives each of `T` write tasks a contiguous range of
  * whole stripes, `task = ⌊stripe·T / nStripes⌋`, through
  * `Dataset.repartitionById` — the row's task IS that number, so no two
  * ranges collide (a hash of the stripe key into `T` partitions leaves
  * tasks idle and doubles others up: hashing 4 lists into 4 partitions
  * fills 2 of them) and no sampling job runs (`repartitionByRange`
  * would). Placement is a hint only: the writer still assigns bucket ids
  * and sorts within each task, so no result depends on
  * it, only the file count and the task count.
  *
  * `T` comes from the input, not from the stripe count
  * ([[writeTasks]]): one task per `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * of the plan's size estimate, at least the core count, at most one
  * task per stripe. At bench sizes that is the core count; once a
  * stripe's share of the input passes the advisory size, as at 100 TB,
  * it is one task per stripe. */
private[operators] object IndexFiles {

  /** The write-task count for `df` over `nStripes` stripes:
    * `clamp(⌈size / advisory⌉, defaultParallelism, nStripes)`. An input
    * whose size Spark cannot estimate (the estimate reaches
    * `spark.sql.defaultSizeInBytes`, Long.MaxValue unless set) takes
    * `spark.sql.shuffle.partitions`, Spark's own width for a shuffle of
    * unknown size, clamped the same way: `nStripes` alone would be
    * 2^32 tasks for a 32-bit LSH index. */
  private def writeTasks(df: DataFrame, nStripes: Long): Int = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bySize: BigInt =
      if (size >= conf.defaultSizeInBytes) BigInt(conf.numShufflePartitions)
      else {
        val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        (size + advisory - 1) / advisory
      }
    val floor = BigInt(spark.sparkContext.defaultParallelism)
    (bySize max floor min BigInt(math.max(1L, nStripes)) min BigInt(Int.MaxValue)).toInt
  }

  /** `df` placed for a stripe-clustered write: whole stripes on
    * [[writeTasks]] tasks, contiguous ranges. `stripe` must lie in
    * `[0, nStripes)`; a null (or an id outside it) lands in some task —
    * the writer still puts it where it belongs. */
  def placed(df: DataFrame, stripe: Column, nStripes: Long): DataFrame = {
    val t = writeTasks(df, nStripes)
    // Exact integer arithmetic: stripe < 2^32 and t < 2^31, so the
    // product stays inside a long.
    df.repartitionById(t, call_function("div",
      stripe.cast(LongType) * lit(t.toLong), lit(nStripes)).cast(IntegerType))
  }

  /** The data files directly under `dir` (none when it does not exist):
    * no `_SUCCESS` marker, no hidden checksum files. Driver-side listing,
    * no job. */
  def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")).toSeq
  }

  /** Remove `<dir>/_temporary`, where the file committer stages a job's
    * task files. A job that died after some of its tasks committed leaves
    * them under `_temporary/0/task_*`, and the next append-mode job into
    * `dir` would commit them together with its own. Only safe while no
    * other job writes `dir`: [[PathIndex]]'s single-writer contract. */
  def clearUncommitted(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, "_temporary")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Each parquet file's row groups, from its footer, read on the
    * driver (no Spark job). */
  private def footerBlocks(spark: SparkSession, files: Seq[FileStatus]): Seq[Seq[BlockMetaData]] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { s =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
      try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    }
  }

  /** Each parquet file's [min, max] of the integral `column`, from its
    * footer's row-group statistics (no Spark job). A file with no rows
    * has no interval; a row group without statistics makes its file's
    * interval unbounded, since any probe may have to open it. */
  def intervals(spark: SparkSession, files: Seq[FileStatus], column: String): Seq[(Long, Long)] =
    footerBlocks(spark, files).flatMap { blocks =>
      val bounds = blocks.map { b =>
        val stats = b.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue)
        stats.fold((Long.MinValue, Long.MaxValue)) { st =>
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
      }
      if (bounds.isEmpty) None else Some((bounds.map(_._1).min, bounds.map(_._2).max))
    }

  /** The rows of the parquet `files`, from their footers (no Spark job). */
  def rowCount(spark: SparkSession, files: Seq[FileStatus]): Long =
    footerBlocks(spark, files).flatten.map(_.getRowCount).sum

  /** Each record of the parquet `files`, read on the driver (parquet
    * pages, no Spark job). For parameter-sized artifacts and the
    * broadcast-capped tombstone set only: the driver reads every byte. */
  def foreachRecord(spark: SparkSession, files: Seq[FileStatus])(f: Group => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { s =>
      val reader = ParquetReader.builder(new GroupReadSupport(), s.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          f(g)
          g = reader.read()
        }
      } finally reader.close()
    }
  }

  /** The rows of a parameter-sized parquet artifact under `dir`, read on
    * the driver with no Spark job, as `schema` declares them (fields by
    * name; a field the files lack, or a null, reads as null). Covers the
    * artifacts' types: int, float, double, string, and arrays of those
    * (Spark's three-level list layout), each read as written. */
  def readRows(spark: SparkSession, dir: String, schema: StructType): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    foreachRecord(spark, dataFiles(spark, dir)) { g =>
      out += new GenericRowWithSchema(
        schema.fields.map(f => field(g, f.name, f.dataType)), schema)
    }
    out.result()
  }

  private def field(g: Group, name: String, dt: DataType): Any = {
    val t = g.getType
    if (!t.containsField(name)) null
    else {
      val i = t.getFieldIndex(name)
      if (g.getFieldRepetitionCount(i) == 0) null
      else dt match {
        case _: ArrayType =>
          // <name> (LIST) { repeated group list { optional element } }
          val list = g.getGroup(i, 0)
          Vector.tabulate(list.getFieldRepetitionCount(0)) { j =>
            val e = list.getGroup(0, j)
            if (e.getFieldRepetitionCount(0) == 0) null else primitive(e, 0)
          }
        case _ => primitive(g, i)
      }
    }
  }

  private def primitive(g: Group, i: Int): Any =
    g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
      case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
      case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
      case PrimitiveTypeName.BINARY => g.getString(i, 0)
      case other => throw new IllegalArgumentException(
        s"parquet type $other is not a parameter-artifact type")
    }
}
