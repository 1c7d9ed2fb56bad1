package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query runner: failures are reported, never timed, and
  * the write family is measured from the builder's own jobs.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("a throwing builder is reported as failed and not timed") {
    val run = Bench.runQuery(spark, "boom", d)((_, _) => sys.error("boom"))
    assert(run.failed && run.cold.isEmpty && run.warm.isEmpty)
  }

  test("write family: only action jobs started inside the cold builder call count") {
    // opening a parquet table runs a schema-inference job, not an action
    val read = Bench.runQuery(spark, "lazy", d)((s, sf) => s.read.parquet(s"$sf/lineitem.parquet"))
    assert(!read.failed && read.builderJobs == 0 && !read.write)
    def eager = Bench.runQuery(spark, "eager", d) { (s, _) =>
      s.range(100).selectExpr("sum(id)").collect()
      s.range(100).toDF()
    }
    val write = eager
    assert(!write.failed && write.write)
    // exact and repeatable: the same builder starts the same jobs
    assert(eager.builderJobs == write.builderJobs)
  }
}
