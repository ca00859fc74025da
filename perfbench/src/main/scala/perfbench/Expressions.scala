package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expressions.{L2ArgminCode, MinHashSig, PqAdcScore, SimHash64}
import graft.functions.{TextFunctions, VectorFunctions}

/** Per-row cost of the engine's native codegen'd expressions, each called
  * through its public column function over one fixed, cached frame (the
  * same frame in every run, whatever the seed). A figure is the median of
  * `Reps` full passes divided by the row count, so it includes the scan of
  * the cached frame. */
object Expressions {
  val Rows = 20000
  val Reps = 3

  def probe(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val rnd = new Random(7)
    val docs = Gen.documents(Rows, 7)
    val vecs = Gen.vectors(Rows, 64, 16, 7)
    val frame = docs.zip(vecs).map { case (d, v) => (d.text, v.toSeq, rnd.nextLong()) }
      .toDF("text", "v", "codes").repartition(spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    frame.count()

    val centroids = Gen.vectors(16, 64, 0, 8)
    val cands = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cl"), typedLit(c.map(_.toDouble).toSeq).as("c"))
    }: _*)
    val codebooks = Array.fill(16, 16, 4)(rnd.nextGaussian())
    val query = typedLit(Gen.vectors(1, 64, 0, 9).head.toSeq)

    val exprs: Seq[(String, Column)] = Seq(
      "minhash_sig" -> MinHashSig.minhashSig(TextFunctions.shingles(col("text"), 3), 60),
      "simhash64" -> SimHash64.simhash64(TextFunctions.tokens(col("text"))),
      "l2_argmin_code" -> L2ArgminCode.argmin(cands, transform(col("v"), _.cast("double"))),
      "hyperplane_bucket64" -> VectorFunctions.hyperplaneBucket(col("v"), 16),
      "pq_adc_score" -> PqAdcScore.score(query, col("codes"), codebooks, 4))

    exprs.foreach { case (name, e) =>
      val df: DataFrame = frame.select(e.as("x"))
      run.noop(df) // warm: codegen and JIT
      val secs = (1 to Reps).map(_ => run.spanSeconds(s"expressions.$name")(run.noop(df)))
      run.metric(s"expressions.${name}_ns_per_row", Stats.median(secs) * 1e9 / Rows, "ns/row")
    }
    frame.unpersist(blocking = true)
  }
}
