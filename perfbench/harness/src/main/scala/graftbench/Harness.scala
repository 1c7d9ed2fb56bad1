package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import com.sun.management.GarbageCollectionNotificationInfo
import graft.{Hygiene, SparkEntry}

/** One benchmark process: a single client that drives graft through
  * its public surface (`SparkEntry.queries`, the noop sink,
  * `Hygiene.clearAll`) in a closed loop, one query at a time.
  *
  * Arguments are `key=value` pairs:
  *   input     generated table directory handed to every query
  *   queries   comma-separated query names, in submission order
  *   mode      `timed` (no listeners) or `traced`
  *   seconds   how long the timed passes run (cold pass included)
  *   minwarm   warm passes run even when `seconds` is already used up
  *   cpus, warehouse, localdir, verify, events
  *
  * Timed mode: set-up, calib probe, a cold pass, warm passes until
  * `seconds` have passed, then an untimed verification pass.
  * Traced mode: set-up, a traced cold pass, then warm passes untraced,
  * traced and untraced again (the tracing overhead compares the traced
  * warm pass with the mean of its two neighbours), then the
  * verification pass.
  * The verification pass writes each result as parquet plus
  * `oracle_sql.json`, the layout `tools/check_oracle.py` reads.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val input = opt("input")
    val queries = opt("queries").split(',').toSeq
    val traced = opt("mode") == "traced"
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus")
    watchHeap()

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // Set-up, timed from JVM start: session start, a warm-up that touches
    // no workload query (so the first pass still meets fresh plan
    // shapes), and loading graft's query registry.
    val setup0 = Recorder.now() - ManagementFactory.getRuntimeMXBean.getUptime
    val spark = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.warehouse.dir", opt("warehouse"))
        .config("spark.local.dir", opt("localdir"))
      if (traced) {
        b.config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressListener].getName)
        b.config("spark.extraListeners", classOf[TraceListener].getName)
        b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      }
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$input/lineitem.parquet").selectExpr("sum(l_quantity)").collect()
    require(SparkEntry.queries.nonEmpty)
    Hygiene.clearAll(spark, blocking = true, gc = true)
    Recorder.add("t" -> "setup", "ms" -> (Recorder.now() - setup0))

    // Host speed meter (context, not a metric): a fixed synthetic
    // range -> hash-keyed aggregate, median of three after a discard.
    def calib(): Double = {
      def once(): Double = {
        val t0 = Recorder.now()
        noop(spark.range(0, 500000L, 1, 8)
          .selectExpr("id * 2654435761 % 1000003 AS k", "id % 97 AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")))
        Recorder.now() - t0
      }
      once()
      val r = Seq(once(), once(), once()).sorted
      Hygiene.clearAll(spark, blocking = true, gc = true)
      r(1) / 1000.0
    }
    Recorder.add("t" -> "calib", "s" -> calib())

    def runQuery(name: String, pass: Int): Unit = {
      val cg0 = CodeGenerator.compileTime
      val t0 = Recorder.now()
      var built = t0
      var err = ""
      try {
        val fn = SparkEntry.queries.getOrElse(name,
          throw new NoSuchElementException(s"no query named $name"))
        val df = fn(spark, input)
        built = Recorder.now()
        noop(df)
      } catch { case e: Throwable => err = e.toString.take(500) }
      val end = Recorder.now()
      Recorder.add("t" -> "query", "pass" -> pass, "traced" -> Recorder.traced,
        "name" -> name, "ok" -> err.isEmpty, "err" -> err,
        "start" -> t0, "built" -> built, "end" -> end,
        "codegen_ns" -> (CodeGenerator.compileTime - cg0))
      Hygiene.clearAll(spark, blocking = true, gc = true)
    }

    def runPass(pass: Int, trace: Boolean): Unit = {
      Recorder.traced = trace
      queries.foreach(runQuery(_, pass))
      if (trace) {
        val sc = spark.sparkContext
        sc.setJobDescription(Recorder.DrainMark)
        sc.parallelize(Seq(1), 1).count()
        sc.setJobDescription(null)
        Recorder.drained.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      Recorder.traced = false
    }

    if (traced) {
      Seq(true, false, true, false).zipWithIndex.foreach { case (tr, p) => runPass(p, tr) }
    } else {
      val t0 = Recorder.now()
      var pass = 0
      runPass(pass, trace = false)
      while (pass < opt("minwarm").toInt || Recorder.now() - t0 < seconds * 1000) {
        pass += 1
        runPass(pass, trace = false)
      }
    }

    // Untimed verification pass, in graft.Verify's output layout.
    val out = opt("verify")
    queries.foreach { name =>
      val err = try {
        SparkEntry.queries(name)(spark, input).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        ""
      } catch { case e: Throwable => e.toString.take(500) }
      Recorder.add("t" -> "verify", "name" -> name, "ok" -> err.isEmpty, "err" -> err)
      Hygiene.clearAll(spark)
    }
    val oracles = SparkEntry.oracleSql.filter(o => queries.contains(o._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.value(oracles))

    Recorder.add("t" -> "heap", "peak_mb" -> peakHeapBytes / 1048576.0)
    spark.stop()
    Recorder.write(opt("events"))
  }

  /** Largest heap occupancy seen right after a collection: the live
    * set the run needed, which unlike a raw peak does not depend on
    * when the collector happened to run. */
  @volatile private var peakHeapBytes = 0L

  private def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakHeapBytes) peakHeapBytes = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
