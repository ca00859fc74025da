package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ScalableWindow

class ScalableWindowSpec extends SparkSpec {
  import spark.implicits._

  test("two-phase running total equals the single-window formulation") {
    val df = (0 until 500).map(i => (i.toLong, ((i * 37) % 90 + 1).toLong))
      .toDF("id", "v").repartition(7)
    val naive = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scaled = ScalableWindow.runningTotal(df, col("id"), col("v"), "cum", 8)
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scaled == naive)
  }

  test("window runs range-partitioned, not as a global single-task window") {
    val df = (0 until 100).map(i => (i.toLong, 1L)).toDF("id", "v")
    val out = ScalableWindow.runningTotal(df, col("id"), col("v"), "cum", 8)
    val plan = out.queryExecution.executedPlan.toString
    // the cumsum window is keyed by partition id (parallel), never global
    assert(plan.contains("windowspecdefinition(__pid"), s"plan:\n$plan")
    // the ranged frame is materialized once (checkpoint), so the totals
    // job and this join see identical __pid assignments
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"plan:\n$plan")
    val last = out.orderBy(desc("id")).select("cum").collect().head.getLong(0)
    assert(last == 100L)
  }

  test("decimal value columns accumulate exactly") {
    val df = (0 until 200)
      .map(i => (i.toLong, BigDecimal((i % 13) + 0.25)))
      .toDF("id", "v")
      .withColumn("v", col("v").cast("decimal(12,2)"))
    val naive = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val scaled = ScalableWindow.runningTotal(df, col("id"), col("v"), "cum", 6)
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(scaled.keySet == naive.keySet)
    naive.foreach { case (k, v) =>
      assert(scaled(k).compareTo(v) == 0, s"id=$k: ${scaled(k)} != $v")
    }
  }

  test("double value columns supported") {
    val df = (0 until 100).map(i => (i.toLong, 0.5)).toDF("id", "v")
    val out = ScalableWindow.runningTotal(df, col("id"), col("v"), "cum", 4)
      .orderBy(desc("id")).select("cum").collect().head.getDouble(0)
    assert(out == 50.0)
  }

  test("reliable checkpoint mode: same results, durable blocks under the checkpoint dir") {
    val df = (0 until 300).map(i => (i.toLong, ((i * 7) % 40 + 1).toLong))
      .toDF("id", "v").repartition(5)
    val expected = ScalableWindow
      .runningTotal(df, col("id"), col("v"), "cum", 6)
      .select("id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ckptDir = tempDir("reliable_ckpt")
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      // Without a checkpoint dir the switch must fail loudly, not fall
      // back to local blocks the caller believes are durable.
      val err = intercept[IllegalArgumentException] {
        ScalableWindow.runningTotal(df, col("id"), col("v"), "cum", 6)
      }
      assert(err.getMessage.contains("setCheckpointDir"))
      spark.sparkContext.setCheckpointDir(ckptDir)
      val got = ScalableWindow
        .runningTotal(df, col("id"), col("v"), "cum", 6)
        .select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
      // reliable checkpoint() writes RDD files under the dir
      def files(p: java.io.File): Seq[java.io.File] = {
        val kids = Option(p.listFiles).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(new java.io.File(ckptDir)).nonEmpty,
        s"no checkpoint files written under $ckptDir")
    } finally {
      spark.conf.unset("graft.checkpoint.reliable")
    }
  }
}
