package graft.traffic

import scala.io.Source

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the full batch pipeline against checked-in golden CSVs — any
  * semantic drift in Normalize or an analysis fails here with a diff. */
class GoldenSpec extends SparkSpec {

  private lazy val norm = Normalize(TrafficFixture.raw(spark, 1000)).cache()

  private def assertGolden(name: String, df: DataFrame): Unit = {
    val url = getClass.getResource(s"/goldens/$name.csv")
    assert(url != null,
      s"golden missing for $name — run: sbt 'Test/runMain graft.traffic.GoldenTool'")
    val expected = Source.fromURL(url, "UTF-8").mkString
    val got = GoldenTool.toCsv(df)
    assert(got == expected, s"golden mismatch for $name")
  }

  test("all analyses match their checked-in goldens") {
    GoldenTool.analyses(norm).foreach { case (name, df) => assertGolden(name, df) }
  }

  test("the pipeline's fused analyses match the same goldens") {
    val golden = Map("directional_traffic" -> "directional",
      "borough_traffic" -> "boroughs", "correlation_heatmap" -> "correlation")
    val got = TrafficPipeline.analyses(norm)
    assert(got.size == GoldenTool.analyses(norm).size)
    got.foreach { case (name, df) => assertGolden(golden.getOrElse(name, name), df) }
  }
}
