package graft
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.Bridge
object Bench {

  /** One query's bench record: seconds per run (`None` = that run threw
    * and was not timed) and the action jobs the cold builder call
    * started. Queries whose builder runs actions rewrite tables, stage
    * inputs or run a streaming job per invocation, so their "warm"
    * re-pays that work by design (q57's warm rebuilds two bucketed
    * tables): totals are reported per family, with read-path warm as
    * the jitter-free round-over-round series.
    */
  final case class Run(name: String, cold: Option[Double],
                       warm: Option[Double], builderJobs: Int) {
    def failed: Boolean = cold.isEmpty || warm.isEmpty
    def write: Boolean = builderJobs > 0
  }

  private val builderTag = "graft_bench_builder"

  // Materialize through the noop sink, NOT count(): under
  // df.count() Catalyst prunes every column and then ELIMINATES
  // whole subtrees whose output is unreferenced — a final left join
  // against a unique (grouped) key drops entirely, and with it the
  // plan above it. Rounds 1-5 timed count(), which reduced
  // dedup_minhash/dedup_simhash (and window-final queries like
  // q26/q66) to bare scan counts (tools/PlanAudit detects this; the
  // round-6 disclosure is in SURVEY.md). The noop writer consumes
  // every output row with all columns live, so the timed number is
  // the work a real consumer pays, at zero sink cost.
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(fn: => Unit): Double = {
    val t0 = System.nanoTime()
    fn
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds `fn` took, or `None` (reported on stderr) when it threw. */
  private def time(name: String)(fn: => Unit): Option[Double] =
    try Some(seconds(fn)) catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: $e")
      None
    }

  // State hygiene between timed runs (graft.Hygiene — shared with
  // Verify): each bench invocation builds a fresh DataFrame, so
  // dropping every persisted RDD + cached relation after the noop
  // write materializes is safe, and blocking+GC makes each timed run
  // see the same clean deterministic session (round 4 measured what
  // happens without this: read-family "warm" slower than cold).
  private def hygiene(spark: SparkSession): Unit =
    Hygiene.clearAll(spark, blocking = true, gc = true)

  /** Time one query cold (fresh plan, including per-plan codegen
    * compile — the number comparable to BASELINE.md) then warm (second
    * run of the same query: plan/codegen caches hot, what a resident
    * cluster would see). The cold builder call runs under a job tag; a
    * listener counts the tagged jobs that belong to a SQL execution (an
    * action: write, collect, count, streaming micro-batch), read only
    * after the listener bus has drained, so the count is exact and
    * repeatable. Opening a parquet table also starts a job (schema
    * inference), but outside any SQL execution, so it does not count.
    */
  def runQuery(spark: SparkSession, name: String, sfDir: String)
              (fn: (SparkSession, String) => DataFrame): Run = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(',').contains(builderTag)) &&
            prop(SQLExecution.EXECUTION_ID_KEY).isDefined) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val cold = time(name) {
        sc.addJobTag(builderTag)
        val df = try fn(spark, sfDir) finally sc.removeJobTag(builderTag)
        exec(df)
      }
      hygiene(spark)
      val warm = time(name)(exec(fn(spark, sfDir)))
      hygiene(spark)
      Bridge.drainListenerBus(sc)
      Run(name, cold, warm, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg (local iteration only; the driver passes none):
    // comma-separated query names to bench just that subset
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None
    val spark = Session.local(Session.envCpus)
    // absorb one-time JVM/classloading/scan-setup cost so per-query
    // numbers measure the queries. Whole-stage codegen compiles per
    // PLAN SHAPE, so warming one query does not absorb another's
    // compile (measured: warming dedup_minhash left dedup_clusters
    // unchanged) — every query is timed cold-plan, uniformly.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => }
    // Host-factor calibration probe (round-7 verdict task 1): a FIXED
    // synthetic workload — seeded range → hash-keyed two-level
    // aggregate, zero IO, constant size — timed at suite start and
    // end. Same-code bench series on this host have differed by up to
    // 1.44× from machine state alone (BASELINE.md r07 disclosure), so
    // every pin now carries its own meter reading: cross-series
    // totals are compared as total/calib (the probe is CPU+shuffle
    // shaped like the suite's hot path), and a calib_pre/calib_post
    // gap flags state drift WITHIN a series. Median of 3 runs so one
    // GC pause can't poison the estimate. One DISCARDED run precedes
    // the timed three (round-9, the r08 advice): the probe's own
    // plan-shape codegen/JIT otherwise lands in calib_pre's median
    // only (the suite warmup above warms q01's shape, not this one),
    // biasing pre high vs post — which reads as within-series state
    // drift. The discard is symmetric in both calls so pre and post
    // measure the same steady state.
    def calibrate(): Double = {
      def once(): Double = seconds(exec(
        spark.range(0, 20000000L, 1, 32)
          .selectExpr("id * 2654435761 % 1000003 AS k", "id % 97 AS v")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("v"),
            org.apache.spark.sql.functions.count("*"))))
      once() // discarded: absorb the probe's own codegen/JIT warmup
      val runs = Seq(once(), once(), once()).sorted
      hygiene(spark)
      runs(1)
    }
    val calibPre = calibrate()
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .map { case (name, fn) => runQuery(spark, name, sfDir)(fn) }
    // a query with a failed run is listed in `errors` and left out of
    // every timed field: totals, per-query maps and families
    val (failed, results) = runs.partition(_.failed)
    val errors = failed.map(x => "\"" + x.name + "\"").mkString("[", ",", "]")
    def json[T](sel: Run => T): String =
      results.map(x => s"\"" + x.name + "\":" + sel(x)).mkString("{", ",", "}")
    def cold(x: Run): Double = x.cold.get
    def warm(x: Run): Double = x.warm.get
    val total = results.map(cold).sum
    val totalWarm = results.map(warm).sum
    val (w, r) = results.partition(_.write)
    val fam = s""""families":{"read":{"n":${r.size},"cold":${r.map(cold).sum},"warm":${r.map(warm).sum}},""" +
      s""""write":{"n":${w.size},"cold":${w.map(cold).sum},"warm":${w.map(warm).sum}}}"""
    // Subset runs (local iteration) are tagged so their partial totals
    // can never be mistaken for a full-suite artifact, and they write
    // BENCH_LOCAL_subset.json instead of overwriting BENCH_LOCAL.json —
    // only a full-suite run pins the file a later reader would quote.
    // tag with the count of queries actually benched (a misspelled
    // name silently drops out of the filter — the requested-name count
    // would overstate the run)
    val subsetTag = only.map(_ => s""""subset":${runs.size},""").getOrElse("")
    val calibPost = calibrate()
    // calib-NORMALIZED per-query values (round-13, the round-12
    // verdict's item 7): the host's speed factor has ranged 1.2–6.1
    // across sessions, so raw cross-round per-query comparison needs
    // the meter reading applied — recording cold/calib (and warm)
    // directly in the artifact makes the cross-round basis computable
    // from ONE file with no convention to remember. calib = mean of
    // the pre/post probes (each already a median-of-3 after a
    // discarded warmup)
    val calibMid = (calibPre + calibPost) / 2.0
    def norm(v: Double): Double = math.rint(v / calibMid * 10000) / 10000
    val calib = s""""calib_pre":$calibPre,"calib_post":$calibPost,"calib":$calibMid"""
    // Artifact-robustness split (round 14, the round-13 verdict's item
    // 2: the r12→r13 comparison was LOST because the stdout line got
    // front-truncated in the driver's tail capture, and r13's norm-map
    // additions doubled the line). The stdout line keeps every
    // driver-contract field (metric/value/unit/queries/sf plus the
    // r6-era warm/families/calib fields) but rounds per-query seconds
    // to 4 decimals (0.1 ms — far below host noise) and moves the two
    // calib-NORMALIZED maps to the FILE artifact only, roughly halving
    // the line. BENCH_LOCAL.json is the authoritative full-precision
    // copy: all four maps, unrounded, plus the per-query builder job
    // counts that decide the write family.
    def r4(v: Double): Double = math.rint(v * 10000) / 10000
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(x => r4(cold(x)))},"total_warm":$totalWarm,"queries_warm":${json(x => r4(warm(x)))},"errors":$errors,$fam,$calib,"sf":"$sfDir"}"""
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec",$subsetTag"queries":${json(cold)},"total_warm":$totalWarm,"queries_warm":${json(warm)},"queries_norm":${json(x => norm(cold(x)))},"queries_warm_norm":${json(x => norm(warm(x)))},"builder_jobs":${json(_.builderJobs)},"errors":$errors,$fam,$calib,"sf":"$sfDir"}"""
    println(line)
    // belt-and-suspenders: the authoritative copy as a file, in case a
    // harness parses logs that interleave, prefix, or truncate stdout
    val artifact = if (only.isEmpty) "BENCH_LOCAL.json" else "BENCH_LOCAL_subset.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), fileLine)
    catch { case _: Throwable => }
    spark.stop()
  }
}
