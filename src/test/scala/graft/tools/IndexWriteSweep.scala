package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Durable-index write cost against the stripe count: the sf0.1
  * embeddings written with [[Similarity.writeIvfIndex]] at 16, 256 and
  * 4096 stripes (list id = `pmod(hash(vec_id), n)`, so the stripe count
  * is set without fitting n centroids; the centroid table holds n
  * placeholder rows). Prints, per stripe count, the tasks the write ran,
  * the data files it left and its wall seconds, min of 3 after a
  * warm-up write. The write-task rule is `IndexFiles.placed`; this is
  * the measurement behind it (SCALE.md §Durable index).
  *
  * Run: sbt "Test/runMain graft.tools.IndexWriteSweep <sfDir> [stripes ...]"
  * (or set SPARK_GRAFT_SF_DIR and pass no arguments)
  */
object IndexWriteSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: IndexWriteSweep <sfDir> [stripes ...]"))
    val counts = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(16, 256, 4096)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    })
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .cache()
    emb.count()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_write_sweep_${System.nanoTime()}"

    def files(dir: java.io.File): Int =
      Option(dir.listFiles()).toSeq.flatten.map { f =>
        if (f.isDirectory) files(f) else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum

    println("| stripes | rows | write tasks | data files | write s (min of 3) |")
    println("|---|---|---|---|---|")
    try counts.foreach { n =>
      val indexed = emb.withColumn("list", pmod(hash(col("id")), lit(n)))
      val centroids = Array.fill(n)(Array(0f))
      val runs = (0 to 3).map { i =>
        val path = s"$base/n${n}_$i"
        // Task ends reach the listener asynchronously: let the previous
        // write's settle before zeroing.
        Thread.sleep(200)
        tasks.set(0)
        val t0 = System.nanoTime()
        Similarity.writeIvfIndex(centroids, indexed, path)
        val s = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (s, tasks.get(), files(new java.io.File(s"$path/lists")))
      }.drop(1)
      val best = runs.minBy(_._1)
      println(f"| $n | ${emb.count()} | ${best._2} | ${best._3} | ${best._1}%.3f |")
    } finally {
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      spark.stop()
    }
  }
}
