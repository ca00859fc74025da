package perfbench

import graft.SparkEntry

/** Oracle-gated corpus entries, each built through `SparkEntry.queries`
  * (the builder: every eager job it runs) and then written (the action).
  * They read the seeded `documents` table under the tables directory. */
object CorpusQueries {

  /** Build and write each query once, each result as one parquet file
    * that the DuckDB oracle checks after the run. Returns the summed wall
    * time, infinite if any query failed. */
  def pass(run: Run, tables: String): Double = {
    val t = run.trace
    run.oracleTables = tables
    Metrics.Queries.map { q =>
      val out = s"${run.dir}/out/$q"
      val (s, r) = run.op(s"queries.$q") {
        val df = t.span(s"queries.$q.builder")(SparkEntry.queries(q)(run.spark, tables))
        t.span(s"queries.$q.action")(df.coalesce(1).write.parquet(out))
      }
      if (r.isSuccess) run.oracle += ((q, out, SparkEntry.oracleSql(q)))
      if (r.isSuccess) s else Double.PositiveInfinity
    }.sum
  }

  /** Traced run: builder vs action time and job counts of each query. */
  def layerMetrics(run: Run): Unit = {
    val t = run.trace
    t.drain()
    var (bs, as, bj, aj) = (0.0, 0.0, 0.0, 0.0)
    Metrics.Queries.foreach { q =>
      val b = t.named(s"queries.$q.builder").head
      val a = t.named(s"queries.$q.action").head
      run.metric(s"queries.$q.builder_s", b.seconds, "s")
      run.metric(s"queries.$q.action_s", a.seconds, "s")
      bs += b.seconds; as += a.seconds
      bj += t.inclusive(b).jobs; aj += t.inclusive(a).jobs
    }
    run.metric("queries.builder_s", bs, "s")
    run.metric("queries.action_s", as, "s")
    run.metric("queries.builder_jobs", bj, "count")
    run.metric("queries.action_jobs", aj, "count")
  }
}
