package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.DedupOps

/** Scratch evidence harness for the round-9 probe-cost claim (NOT part
  * of the graded surface): against a STORED index of a growing corpus,
  * probe a FIXED-size ingest batch two ways —
  *
  *   window: the pre-round-9 shape (maxBucket cap = count() window
  *           over the ENTIRE stored index per probe)
  *   stats:  the round-9 shape (cap = anti-join against the stored
  *           over-cap bucket keys)
  *
  * for both the minhash band index and the simhash segment index. The
  * batch is pinned to replica 0 of a make_scaled.py dir (ids < 1e9),
  * so scaling the dir grows ONLY the index side — exactly the
  * steady-state ingest question "what does one batch cost as the
  * archive grows?". Index + stats are staged to parquet ONCE outside
  * the timed region (they are the stored state the lifecycle
  * maintains); timings are noop-sink, 1 cold + 2 warm.
  *
  * Caveat recorded with the numbers: scaled replicas are near-copies,
  * so the batch's CANDIDATE set legitimately grows with scale (every
  * batch doc gains ~N near-dup twins) — the claim under test is
  * "probe ∝ batch + matched buckets", not "probe is scale-constant".
  */
object ProbeCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.envCpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    val docs = graft.io.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // replica 0 only: fixed ~500-doc batch at every scale of the dir
    val batch = docs.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") < 1000000000L)
    val dir = "/tmp/graft_probecost"
    def stage(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val mhIdx = stage(DedupOps.minhashIndex(corpus, "text", "doc_id"), "mh_idx")
    val mhStats = stage(DedupOps.minhashBucketStats(mhIdx), "mh_stats")
    val shIdx = stage(DedupOps.simhashIndex(corpus, "text", "doc_id"), "sh_idx")
    val segIdx = stage(DedupOps.simhashSegmentIndex(shIdx, "doc_id"), "sh_seg")
    val segStats = stage(DedupOps.simhashSegmentStats(segIdx), "sh_seg_stats")
    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minhash_window" -> (() => DedupOps.minhashNearDupIndexed(
        batch, mhIdx, corpus, "text", "doc_id")),
      "minhash_stats" -> (() => DedupOps.minhashNearDupIndexed(
        batch, mhIdx, corpus, "text", "doc_id",
        bandStats = Some(mhStats))),
      "simhash_window" -> (() => DedupOps.simhashNearDupSegIndexed(
        batch, segIdx, "text", "doc_id")),
      "simhash_stats" -> (() => DedupOps.simhashNearDupSegIndexed(
        batch, segIdx, "text", "doc_id",
        segStats = Some(segStats))))
    variants.foreach { case (name, fn) =>
      def time(): Double = {
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = time(); val warm = time(); val warm2 = time()
      println(f"PROBECOST $name%-16s cold=$cold%6.2f warm=$warm%6.2f warm2=$warm2%6.2f sf=$sfDir")
      graft.Hygiene.clearAll(spark, blocking = true, gc = true)
    }
    graft.io.FsOps.rm(spark, dir)
    spark.stop()
  }
}
