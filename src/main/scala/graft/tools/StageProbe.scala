package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Diagnostic harness: run ONE query from SparkEntry with a
  * stage-metrics listener and print, per completed stage, wall time,
  * executor CPU/run time, task count and record counts — the
  * where-did-the-time-go view that `explain` can't give (AQE decides
  * partition counts at runtime) and the bench's single number hides.
  * Usage: runMain graft.StageProbe <name>[,<name>...] [repeats]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val repeats = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCpus)
    case class St(id: Int, nameLine: String, wallMs: Long, runMs: Long,
                  cpuMs: Long, tasks: Int, recordsIn: Long, recordsOut: Long)
    // appended from the listener-bus thread, read/cleared from main:
    // every access synchronizes on the buffer (a straggler event
    // landing mid-sort would otherwise throw or leak into the next
    // run's attribution)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(80), wall,
            m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks,
            m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    for (name <- names; fn = SparkEntry.queries(name); r <- 1 to repeats) {
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are posted async; wait until the bus drains
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      val snap = stages.synchronized(stages.toVector)
      println(f"== run $r: $name total ${wall}%.2f s, ${snap.size} stages")
      // full-run totals over ALL stages (round 14): top-15 sums are not
      // comparable across code versions once a query has >15 stages
      println(f"  TOTAL run=${snap.map(_.runMs).sum}%8d ms " +
        f"cpu=${snap.map(_.cpuMs).sum}%8d ms tasks=${snap.map(_.tasks).sum}%5d " +
        f"in=${snap.map(_.recordsIn).sum}%11d out=${snap.map(_.recordsOut).sum}%11d")
      snap.sortBy(-_.runMs).take(15).foreach { s =>
        println(f"  stage ${s.id}%3d wall=${s.wallMs}%6d ms run=${s.runMs}%6d ms " +
          f"cpu=${s.cpuMs}%6d ms tasks=${s.tasks}%3d in=${s.recordsIn}%9d " +
          f"out=${s.recordsOut}%9d  ${s.nameLine}")
      }
      Hygiene.clearAll(spark, blocking = true, gc = true)
    }
    spark.stop()
  }
}
