package perfbench

import scala.collection.mutable

/** The query-suite workloads: a frozen list of `SparkEntry.queries`
  * over the generated tables.
  *
  * Set-up runs every query once, untimed, and writes its result as
  * parquet next to its DuckDB oracle SQL, so `run.py` can check it
  * (this pass is also the first warm pass: codegen and JIT), then runs
  * every query once more the way the timed passes do. The timed
  * section then runs whole passes over the list, in a seeded order per
  * pass, as many as fill the run length and at least `MinPasses`, so
  * each per-query median rests on that many samples. Each query is
  * split into build (the query function), plan (analysis + physical
  * planning) and exec.
  * A query that fails its check or throws yields no time.
  */
object SuiteBench {
  /** Length of one pass over the suite-driver list at this commit (2 cores). */
  val PassSeconds = 2.1
  val WarmPasses = 1
  val MinPasses = 5

  def run(h: Harness): Unit = {
    val a = h.args
    val spark = h.spark
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val names = if (a.queries == Seq("all")) fns.keys.toSeq.sorted else a.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val checkDir = s"${a.work}/check"
    val failed = mutable.LinkedHashMap.empty[String, String]
    names.foreach { q =>
      try fns(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
      catch { case e: Throwable => failed(q) = s"check pass: ${e.getMessage}" }
      graft.Tables.releaseOperatorCaches(spark)
      h.log(s"checked $q")
    }
    Json.write(s"$checkDir/oracle_sql.json", names.map(q => q -> oracle.getOrElse(q, null)).toMap)
    // a warm pass in the timed form: the JIT is still compiling after the
    // check pass, and an early timed pass would read slow
    for (_ <- 1 to WarmPasses; q <- names if !failed.contains(q)) {
      try fns(q)(spark, a.data).queryExecution.toRdd.count()
      catch { case e: Throwable => failed(q) = s"warm pass: ${e.getMessage}" }
      graft.Tables.releaseOperatorCaches(spark)
    }

    h.markTimed()
    val rng = new scala.util.Random(a.seed)
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = a.passes(PassSeconds, MinPasses)
    var pass = 0
    while (pass < passes) {
      // a traced run alternates traced and untraced passes, so it can
      // report its own overhead
      val traced = h.tracing(a.trace && pass % 2 == 1)
      rng.shuffle(names).foreach { q =>
        if (!failed.contains(q)) {
          val opId = s"$q#$pass"
          try {
            var build, plan = 0L
            var nodes = 0
            val (_, wall) = h.op(opId, q) { root =>
              val (df, b) = h.tracer.span(opId, "build", root)(fns(q)(spark, a.data))
              val (rdd, p) = h.tracer.span(opId, "plan", root)(df.queryExecution.toRdd)
              h.tracer.span(opId, "exec", root)(rdd.count())
              build = b; plan = p
              if (traced) nodes = Plans.nodes(df.queryExecution.executedPlan)
            }
            samples += Map("query" -> q, "pass" -> pass, "wall_s" -> wall / 1e9,
              "build_s" -> build / 1e9, "plan_s" -> plan / 1e9, "plan_nodes" -> nodes, "traced" -> traced)
          } catch { case e: Throwable => failed(q) = s"timed pass: ${e.getMessage}" }
          // outside the timed span: no query keeps another's caches
          graft.Tables.releaseOperatorCaches(spark)
        }
      }
      // the first and the last pass: a footprint that grows shows
      if (pass == 0 || pass == passes - 1) h.sampleLiveHeap()
      pass += 1
    }
    h.result("passes") = pass
    h.result("failed") = failed
    h.result("samples") = samples.toSeq
    if (a.trace) {
      // per query: scheduler counters summed over its passes
      h.result("sched") = names.map(q =>
        q -> h.schedulerTotals(_.startsWith(q + "#"))).toMap
    }
  }
}
