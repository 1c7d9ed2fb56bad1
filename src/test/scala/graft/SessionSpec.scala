package graft

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** TestSpark builds through the one factory, so these checks pin the
  * exact config Bench and Verify run.
  */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("warehouse root is absolute, outside the working directory, and in use") {
    val root = Paths.get(Session.warehouse)
    val cwd = Paths.get(System.getProperty("user.dir")).toAbsolutePath.normalize
    assert(root.isAbsolute && !root.startsWith(cwd), s"$root vs working dir $cwd")
    // Spark qualifies the conf to a file: URI
    assert(Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath) == root)
    assert(QHelp.tmpDir(spark, "x").stripPrefix("file:").startsWith(root.toString))
  }

  test("factory pins UTC, nanosAsLong, no NTZ inference and the graft SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    val fns = spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    Seq("vec_dot", "simhash64", "word_ngrams", "shingle_hashes", "minhash_sig")
      .foreach(f => assert(fns.contains(f), s"$f not registered"))
  }
}
