package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same inputs;
  * the engine only ever sees what these write. Expected answers for the
  * correctness checks are computed here in plain Scala, never by Spark. */
object Gen {

  // ---------------------------------------------------------------- traffic

  /** What the generator knows about its traffic landing. */
  final case class TrafficExpected(
      rows: Long, boroughTotals: Seq[(String, Long)], topStreet: String)

  private val Boroughs = Seq("Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island")
  private val Directions = Seq("NB", "SB", "EB", "WB")
  private val JunkNumbers = Seq("", "N/A", "12.5", " 7 ", "1e3", "abc")
  private val JunkText = Seq("", "N/A", "abc")
  private val BadWkt = Seq("POINT (abc)", "", "LINESTRING (1 2, 3 4)", "POINT(")

  private def jsonStr(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Lenient numeric coercion as the engine's normalize stage defines it:
    * parse as a double (surrounding blanks allowed), truncate to a long;
    * anything unparseable is null. */
  private def coerce(s: String): Option[Long] =
    if (s == null) None
    else scala.util.Try(s.trim.toDouble).toOption
      .filter(d => !d.isNaN && !d.isInfinite).map(_.toLong)

  /** A JSONL landing in the raw `7ym2-wayt` schema (every field a string)
    * with the fixture's junk rows: non-numeric `vol`/`hh` (and, for `vol`,
    * numeric strings pandas would coerce), nulls in each
    * required column, malformed WKT, bin-edge volumes, and dates across a
    * weekend and an ISO-week-53 year end. */
  def trafficLanding(path: String, n: Int, seed: Long): TrafficExpected = {
    val rnd = new Random(seed)
    val nStreets = 150
    // Skewed street popularity so the busiest street is well defined.
    val streetWeights = (0 until nStreets).map(i => 1.0 / (1 + i * 0.15))
    val cum = streetWeights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def street(): Int = {
      val u = rnd.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cum.toArray, u)
      if (i >= 0) i else -i - 1
    }
    val streetName = (0 until nStreets).map(i => f"STREET ${(i * 7919) % 1000}%03d")
    val base = java.time.LocalDate.of(2020, 12, 24)
    val bTotals = mutable.Map[String, Long]().withDefaultValue(0L)
    val sTotals = mutable.Map[String, Long]().withDefaultValue(0L)
    var kept = 0L
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      var i = 0
      while (i < n) {
        val s = street()
        val date = base.plusDays(rnd.nextInt(14).toLong)
        val boro = Boroughs(s % Boroughs.size)
        var vol: String = rnd.nextInt(100) match {
          case k if k < 3 => JunkNumbers(rnd.nextInt(JunkNumbers.size))
          case k if k < 6 => Seq("0", "49", "50", "199", "200")(rnd.nextInt(5))
          case _ => (rnd.nextInt(300) + (if (s < 10) 100 else 0)).toString
        }
        var hh: String =
          if (rnd.nextInt(100) < 2) JunkText(rnd.nextInt(JunkText.size))
          else rnd.nextInt(24).toString
        var seg: String = (100000 + s * 10 + rnd.nextInt(3)).toString
        var boroS: String = boro
        var streetS: String = streetName(s)
        if (rnd.nextInt(100) < 2) rnd.nextInt(5) match {
          case 0 => vol = null
          case 1 => hh = null
          case 2 => seg = null
          case 3 => boroS = null
          case _ => streetS = null
        }
        val wkt =
          if (rnd.nextInt(100) < 2) BadWkt(rnd.nextInt(BadWkt.size))
          else f"POINT (${913000 + rnd.nextDouble() * 154000}%.4f ${120000 + rnd.nextDouble() * 152000}%.4f)"
        val fields = Seq(
          "requestid" -> (30000 + i).toString, "boro" -> boroS,
          "yr" -> date.getYear.toString, "m" -> date.getMonthValue.toString,
          "d" -> date.getDayOfMonth.toString, "hh" -> hh,
          "mm" -> (rnd.nextInt(4) * 15).toString, "vol" -> vol,
          "segmentid" -> seg, "wktgeom" -> wkt, "street" -> streetS,
          "fromst" -> s"CROSS ${rnd.nextInt(50)}", "tost" -> s"CROSS ${rnd.nextInt(50)}",
          "direction" -> Directions(rnd.nextInt(Directions.size)))
        out.write(fields.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
          .mkString("{", ",", "}\n"))
        if (vol != null && hh != null && seg != null && boroS != null && streetS != null) {
          kept += 1
          val v = coerce(vol).getOrElse(0L)
          bTotals(boroS) += v
          sTotals(streetS) += v
        }
        i += 1
      }
    } finally out.close()
    val byTotal = Ordering.by[(String, Long), (Long, String)](t => (-t._2, t._1))
    TrafficExpected(kept, bTotals.toSeq.sorted(byTotal), sTotals.toSeq.min(byTotal)._1)
  }

  // ----------------------------------------------------------------- corpus

  private val Vocab = Seq("a", "the", "data", "query", "table", "row", "column",
    "join", "scan", "filter", "group", "agg", "sort", "order", "window", "batch",
    "stream", "spark", "hash", "key", "value", "part", "line", "customer",
    "merge", "fast", "slow", "big", "small", "vector", "index", "shard",
    "token", "model", "train", "eval", "score", "label", "corpus", "dedup",
    "page", "cache", "plan", "stage", "task")
  private val Langs = Seq("en", "en", "es", "zh", "de", "fr")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Word-salad documents over a small vocabulary, 20 sources, five
    * languages, with planted exact and near duplicates (one word
    * changed) so dedup and near-dup probes have work to find. */
  def documents(n: Int, seed: Long): IndexedSeq[Doc] = {
    val rnd = new Random(seed)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val r = rnd.nextInt(100)
      texts(i) =
        if (i > 10 && r < 2) texts(rnd.nextInt(i))
        else if (i > 10 && r < 8) {
          val w = texts(rnd.nextInt(i)).split(" ")
          w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.size))
          w.mkString(" ")
        } else Seq.fill(20 + rnd.nextInt(70))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    (0 until n).map(i => Doc(i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${i % 20}"))
  }

  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def writeDocuments(spark: SparkSession, docs: Seq[Doc], path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 1),
        DocumentSchema)
      .write.parquet(path)

  private def unit(v: Array[Double]): Array[Float] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / nrm).toFloat)
  }

  /** Unit-norm Gaussian vectors; with `clusters > 0` they are drawn
    * around that many random centres (a Gaussian mixture), and a small
    * share are perturbed copies of earlier vectors (near duplicates). */
  def vectors(n: Int, dim: Int, clusters: Int, seed: Long): IndexedSeq[Array[Float]] = {
    val rnd = new Random(seed)
    val centres = Array.fill(math.max(clusters, 1), dim)(rnd.nextGaussian())
    val out = new Array[Array[Float]](n)
    for (i <- 0 until n) {
      out(i) =
        if (i > 10 && rnd.nextInt(100) < 2)
          unit(out(rnd.nextInt(i)).map(x => x + 0.02 * rnd.nextGaussian()))
        else if (clusters > 0) {
          val c = centres(rnd.nextInt(clusters))
          unit(Array.tabulate(dim)(d => c(d) + 0.7 * rnd.nextGaussian()))
        } else unit(Array.fill(dim)(rnd.nextGaussian()))
    }
    out.toIndexedSeq
  }
}
