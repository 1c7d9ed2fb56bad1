package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured: every main and the
  * test suite build through [[local]], so tests run the harnesses' config.
  */
object Session {

  /** Absolute warehouse root (managed tables, `QHelp.tmpDir`, stream
    * checkpoints), never derived from the working directory. */
  val warehouse: String = java.nio.file.Paths.get(
    sys.env.get("SPARK_LOCAL_DIRS").map(_.split(',').head)
      .getOrElse(System.getProperty("java.io.tmpdir")),
    "graft-warehouse").toAbsolutePath.normalize.toString

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as Long, converted
      // to µs timestamps in graft.io.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive TIMESTAMP(MICROS) must read as session-tz TIMESTAMP (not
      // NTZ) so event-time ops and epoch casts keep rounds-1-5 semantics
      // and scan-level pushdown (Tables normalizes as a fallback)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
