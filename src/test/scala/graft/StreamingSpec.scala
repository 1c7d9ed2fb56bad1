package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Streaming twin of the batch window query, driven synchronously over
  * the same parquet (guide: memory sink + processAllAvailable).
  * Asserts streaming ≡ batch on total event counts.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  test("streaming tumbling counts equal batch tumbling counts") {
    val batchDf = graft.io.Tables.events(spark, d)
    // FileStreamSource needs a directory, not a single parquet file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val agg = StreamingOps.tumblingCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("stream_tumbling")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT sum(cnt) FROM stream_tumbling").collect()(0).getLong(0)
      assert(streamed == batchDf.count())
    } finally q.stop()
  }

  test("streaming session windows equal batch session windows") {
    val dir = java.nio.file.Files.createTempDirectory("events_session")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*), sum(n_events) FROM stream_sessions").collect()(0)
      val batch = Queries.queryMap("q16_session_window")(spark, d)
      assert(streamed.getLong(0) == batch.count())
      assert(streamed.getLong(1) == graft.io.Tables.events(spark, d).count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches batch sessions (closed set)") {
    val dir = java.nio.file.Files.createTempDirectory("events_fsess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val sessions = StreamingOps.statefulSessions(spark, stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fsess").start()
    try {
      q.processAllAvailable()
      val emitted = spark.sql("SELECT user_id, session_start, n_events FROM fsess")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the micro-batch closes every session except each user's
      // trailing one; the watermark's no-data batch then fires
      // event-time timeouts for trailing sessions older than
      // watermark-gap. So: every emitted session is EXACTLY a batch
      // session, and every non-trailing batch session is emitted —
      // only trailing sessions near the stream's end may stay open.
      val batch = Queries.queryMap("q16_session_window")(spark, d)
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batchSet = batch.toSet
      val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val closedInBatch = batch.filterNot { case (u, st, _) => lastPerUser(u) == st }.toSet
      assert(emitted.subsetOf(batchSet),
        s"emitted a session not in batch output: ${(emitted -- batchSet).take(3)}")
      assert(closedInBatch.subsetOf(emitted),
        s"missed closed sessions: ${(closedInBatch -- emitted).take(3)}")
      assert(emitted.nonEmpty)
    } finally q.stop()
  }

  test("stream-static join enriches every batch row (state-less)") {
    val dir = java.nio.file.Files.createTempDirectory("events_static")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val batch = graft.io.Tables.events(spark, d)
    val dim = batch.select(col("event_type")).distinct()
      .withColumn("tier", when(length(col("event_type")) >= 6, "long")
        .otherwise("short"))
    val joined = StreamingOps.staticEnrich(stream, dim, "event_type")
      .groupBy(col("tier")).agg(count(lit(1)).as("cnt"))
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName("stream_static_test").start()
    try {
      q.processAllAvailable()
      // inner join against a total dim: every event lands in a tier
      val got = spark.sql("SELECT sum(cnt) FROM stream_static_test")
        .collect()(0).getLong(0)
      assert(got == batch.count())
      // and the per-tier split matches the batch join exactly
      val streamed = spark.table("stream_static_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val expect = batch.join(dim, "event_type").groupBy("tier").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed == expect)
    } finally q.stop()
  }

  test("streaming dedup emits each duplicated event exactly once") {
    import org.apache.spark.sql.functions._
    // the same file delivered twice = every event is a duplicate
    val dir = java.nio.file.Files.createTempDirectory("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), dir.resolve("b.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val deduped = StreamingOps.streamingDedup(stream)
      .select(col("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*), count(DISTINCT event_id) FROM sdedup").collect()(0)
      val expected = graft.io.Tables.events(spark, d).count()
      assert(n.getLong(0) == expected, s"emitted ${n.getLong(0)} rows, expected $expected")
      assert(n.getLong(1) == expected)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("events_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val joined = StreamingOps.clickPurchaseJoin(spark,
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT click_id, purchase_ts_s FROM ssj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin over the same data
      val e = graft.io.Tables.events(spark, d)
      val bc = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val bp = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val batch = bc.join(bp,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
        .select(col("click_id"), col("purchase_ts").cast("long").as("purchase_ts_s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessions survive cross-batch late events (monotonic merge)") {
    import org.apache.spark.sql.functions._
    // two micro-batches with the NEWER half delivered first, so batch 2
    // is entirely late data — regression for the backward-lastUs bug
    // (late events used to move last-seen backward and split sessions)
    val src = graft.io.Tables.events(spark, d)
    val cut = src.agg(expr("percentile(cast(ts as long), 0.5)")).collect()(0).getDouble(0).toLong
    val dir = java.nio.file.Files.createTempDirectory("events_late")
    val newer = src.filter(col("ts").cast("long") >= cut)
    val older = src.filter(col("ts").cast("long") < cut)
    newer.coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by them
    older.coalesce(1).write.mode("append").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val sessions = StreamingOps.statefulSessions(spark, stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_sess").start()
    try {
      q.processAllAvailable()
      val emitted = spark.sql("SELECT user_id, session_start, n_events FROM late_sess")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // late data makes exact batch parity impossible (documented);
      // the invariants that must still hold: sessions are well-formed,
      // counts positive, and no user double-counts beyond its events
      assert(emitted.nonEmpty)
      assert(emitted.forall(_._3 >= 1))
      val perUserEmitted = emitted.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val perUserTotal = src.groupBy(col("user_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      perUserEmitted.foreach { case (u, n) =>
        assert(n <= perUserTotal(u), s"user $u emitted $n > ${perUserTotal(u)} events")
      }
    } finally q.stop()
  }

  test("statefulUserCounts evicts idle users once the watermark passes the timeout") {
    import spark.implicits._
    // three single-file micro-batches (mtime-ordered): user 1 active,
    // then user 2 far ahead (advances the watermark past user 1's idle
    // horizon -> eviction), then user 1 returns
    val dir = java.nio.file.Files.createTempDirectory("events_evict").toString
    val base = 1700000000L
    def write(rows: (Long, Long)*): Unit = {
      rows.toSeq.toDF("user_id", "sec")
        .select($"user_id", $"sec".cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes: FileStreamSource orders by them
    }
    write((1L, base), (1L, base + 60))
    write((2L, base + 3 * 3600))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val counts = StreamingOps.statefulUserCounts(
      spark, stream, idleTimeoutSec = 3600, watermark = "10 minutes")
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("evict_counts").start()
    try {
      // drain files 1-2: user 2's event advances the watermark past
      // user 1's idle horizon, and the trailing no-data batch fires the
      // event-time timeout (snapshot + evict) BEFORE user 1 returns
      q.processAllAvailable()
      write((1L, base + 4 * 3600))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n_events FROM evict_counts").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.contains((1L, 2L)), "running count before eviction")
      // the count restarts at 1 after the return — proof the state
      // record was REMOVED at timeout, not retained forever
      assert(rows.contains((1L, 1L)), s"expected fresh post-eviction count in ${rows.toSeq}")
      assert(!rows.exists { case (u, n) => u == 1L && n == 3L },
        "state survived the idle timeout")
    } finally q.stop()
  }

  test("stateful mapGroupsWithState tracks per-user counts") {
    val dir = java.nio.file.Files.createTempDirectory("events_state")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$d/events.parquet").schema
    val stream = StreamingOps.eventsStream(spark, dir.toString, schema)
    val counts = StreamingOps.statefulUserCounts(spark, stream)
    val q = counts.writeStream
      .outputMode("update")
      .format("memory").queryName("stateful_counts")
      .start()
    try {
      q.processAllAvailable()
      // update mode can emit a user twice (running count + eviction
      // snapshot, same value) — compare per-user maxima, not raw rows
      val total = spark.sql(
        """SELECT sum(m) FROM (SELECT user_id, max(n_events) AS m
           FROM stateful_counts GROUP BY user_id)""").collect()(0).getLong(0)
      assert(total == graft.io.Tables.events(spark, d).count())
      val perUser = spark.sql("SELECT count(DISTINCT user_id) FROM stateful_counts")
        .collect()(0).getLong(0)
      val users = graft.io.Tables.events(spark, d)
        .select(org.apache.spark.sql.functions.countDistinct("user_id"))
        .collect()(0).getLong(0)
      assert(perUser == users)
    } finally q.stop()
  }

  test("foreachBatchFold: multi-batch fold == one-shot fold; retention keeps last 2") {
    // the streaming MAINTENANCE deployment (merge/delete folds): a
    // 4-file / 2-per-trigger id stream folded into a stored state via
    // anti-join deletes must land on exactly the never-ingested state
    // (chained deletes compose), and the versioned-snapshot dir must
    // hold ONLY the final version (eager cleanup of superseded
    // snapshots) plus survive an empty fold result.
    import spark.implicits._
    val state0 = (0L until 100L).map(i => (i, i * 7)).toDF("id", "sig")
    val stageDir = java.nio.file.Files.createTempDirectory("fold_ids").toString
    val stateDir = java.nio.file.Files.createTempDirectory("fold_state").toString + "/s"
    (0L until 40L).map(Tuple1(_)).toDF("id").repartition(4)
      .write.mode("overwrite").parquet(stageDir)
    val src = spark.readStream.schema(spark.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", "2").parquet(stageDir)
    val fin = StreamingOps.foreachBatchFold(src, state0, stateDir) {
      (state, batch) => state.join(batch, Seq("id"), "left_anti")
    }
    val got = fin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == (40L until 100L).map(i => (i, i * 7)))
    // retention (round 11): the default keep-last-2 window — the
    // latest snapshot plus one superseded version for reader grace;
    // everything older is swept
    val versions = graft.io.FsOps.ls(spark, stateDir)
      .map(_.split('/').last).filter(_.matches("v\\d+")).sorted
    assert(versions == Seq("v1", "v2"),
      s"retention window should hold the last 2 versions: $versions")
    graft.io.FsOps.rm(spark, stageDir)
    graft.io.FsOps.rm(spark, stateDir)
    graft.io.FsOps.rm(spark, stateDir + "_ckpt")
  }

  test("applyFoldBatch: replay no-ops on additive folds; uncommitted partials are overwritten") {
    // the round-9 advice case made structural: a foreachBatch RETRY
    // (micro-batch replay after a crash between the state publish and
    // the streaming checkpoint commit) must not re-apply the fold —
    // with an ADDITIVE fold (count merge) a second application
    // double-counts, so exactly-once is only real if the replay
    // no-ops. And a crash MID-WRITE leaves a partial snapshot without
    // _SUCCESS, which must be invisible to version selection and
    // overwritten by the redo.
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("fold_replay").toString + "/s"
    val init = Seq((0, 10L), (1, 5L)).toDF("bin", "n")
    init.write.mode("overwrite").parquet(s"$stateDir/v0")
    val batch = Seq((0, 1L), (2, 7L)).toDF("bin", "n")
    val fold = (state: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame) =>
      graft.ops.LibOps.histStateMerge(state, b)
    def stateRows() = {
      val v = StreamingOps.latestCommitted(spark, stateDir)
      spark.read.parquet(s"$stateDir/v$v")
        .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    }
    // retain = 1 pins the eager round-10 window so the sweep
    // assertions below stay exact; the retention window itself is
    // covered by the dedicated reader-grace test
    StreamingOps.applyFoldBatch(spark, stateDir, 0L, batch, fold, retain = 1)
    val once = stateRows()
    assert(once == Seq((0, 11L), (1, 5L), (2, 7L)))
    // replay of the SAME batch id: must be a no-op (not 12/5/14)
    StreamingOps.applyFoldBatch(spark, stateDir, 0L, batch, fold, retain = 1)
    assert(stateRows() == once, "replayed batch re-applied an additive fold")
    // crash mid-write: a partial v2 with data but no _SUCCESS marker
    Seq((9, 999L)).toDF("bin", "n").write.mode("overwrite")
      .parquet(s"$stateDir/v2")
    graft.io.FsOps.rm(spark, s"$stateDir/v2/_SUCCESS")
    assert(StreamingOps.latestCommitted(spark, stateDir) == 1L,
      "uncommitted partial selected as latest snapshot")
    // the redo of batch 1 overwrites the partial and lands correctly
    StreamingOps.applyFoldBatch(spark, stateDir, 1L, batch, fold, retain = 1)
    assert(stateRows() == Seq((0, 12L), (1, 5L), (2, 14L)))
    def versions() = graft.io.FsOps.ls(spark, stateDir)
      .map(_.split('/').last).filter(_.matches("v\\d+")).sorted
    // orphan sweep (review-pass finding): a crash between the v2
    // publish and the v1 delete leaves BOTH committed; the replay of
    // batch 1 must sweep the superseded v1, not just no-op
    Seq((9, 9L)).toDF("bin", "n").write.mode("overwrite")
      .parquet(s"$stateDir/v1")
    assert(versions().contains("v1"))
    StreamingOps.applyFoldBatch(spark, stateDir, 1L, batch, fold, retain = 1)
    assert(versions() == Seq("v2"), s"orphan not swept: ${versions()}")
    assert(stateRows() == Seq((0, 12L), (1, 5L), (2, 14L)),
      "replay-with-orphan changed the state")
    // strict protocol invariant: a state BEHIND the checkpoint (v2 =
    // batches 0..1 when batch 5 arrives) must fail loudly, not fold
    // batch 5 onto a snapshot missing batches 2..4
    val diverged = intercept[IllegalArgumentException] {
      StreamingOps.applyFoldBatch(spark, stateDir, 5L, batch, fold, retain = 1)
    }
    assert(diverged.getMessage.contains("diverged"))
    graft.io.FsOps.rm(spark, stateDir)
  }

  test("foreachBatchFold resume refuses a kept state with a lost checkpoint") {
    // the silent-data-loss case the resume guard exists for: without
    // the checkpoint the restarted stream renumbers batch ids from 0
    // and the replay-skip would drop the new files' folds
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("fold_nockpt").toString + "/s"
    Seq((0, 1L)).toDF("bin", "n").write.mode("overwrite")
      .parquet(s"$stateDir/v0")
    Seq(Tuple1(0)).toDF("bin").write.mode("overwrite")
      .parquet(stateDir + "_nofeed")
    val src = spark.readStream
      .schema(spark.read.parquet(stateDir + "_nofeed").schema)
      .parquet(stateDir + "_nofeed")
    val err = intercept[IllegalArgumentException] {
      StreamingOps.foreachBatchFold(src, spark.emptyDataFrame, stateDir,
        resume = true)((st, _) => st)
    }
    assert(err.getMessage.contains("checkpoint"))
    graft.io.FsOps.rm(spark, stateDir)
  }

  test("foreachBatchFoldMulti: every store lands on its one-shot state off one pinned batch") {
    // the ingest-capstone primitive: one feed, many stores — each
    // store's chained per-batch folds must equal its one-shot fold of
    // the whole feed (additive law), with independent versioned dirs
    import spark.implicits._
    val stageDir =
      java.nio.file.Files.createTempDirectory("multi_feed").toString
    val root =
      java.nio.file.Files.createTempDirectory("multi_state").toString + "/r"
    val feed = (0L until 60L).map(i => (i, (i % 7).toDouble)).toDF("id", "v")
    feed.repartition(4).write.mode("overwrite").parquet(stageDir)
    val src = spark.readStream.schema(spark.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", "2").parquet(stageDir)
    val emptyHist = spark.range(0)
      .select($"id".cast("int").as("bin"), $"id".as("n"))
    val initIdx = Seq((-1L, -7L)).toDF("id", "sig")
    val fin = StreamingOps.foreachBatchFoldMulti(src, root, Seq(
      StreamingOps.FoldSpec("hist", emptyHist, (st, b) =>
        graft.ops.LibOps.histStateMerge(st,
          graft.ops.LibOps.histState(b, "v", 0.0, 1.0, 8))),
      StreamingOps.FoldSpec("idx", initIdx, (st, b) =>
        st.unionByName(b.select($"id", ($"id" * 7).as("sig"))))))
    val gotHist = fin("hist").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val wantHist = graft.ops.LibOps.histState(feed, "v", 0.0, 1.0, 8)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(gotHist == wantHist, "chained hist folds != one-shot state")
    val gotIdx = fin("idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotIdx == ((-1L, -7L) +: (0L until 60L).map(i => (i, i * 7))),
      "chained index folds != one-shot state")
    // each store holds the default keep-last-2 retention window
    Seq("hist", "idx").foreach { n =>
      val vs = graft.io.FsOps.ls(spark, s"$root/$n")
        .map(_.split('/').last).filter(_.matches("v\\d+")).sorted
      assert(vs == Seq("v1", "v2"),
        s"store $n should hold the last 2 versions: $vs")
    }
    graft.io.FsOps.rm(spark, stageDir)
    graft.io.FsOps.rm(spark, root)
    graft.io.FsOps.rm(spark, root + "_ckpt")
  }

  test("foreachBatchFoldMulti computes each micro-batch once across all folds") {
    // the capstone's scan contract: the batch is PINNED before the
    // folds, so N stores cost one batch materialization, not N — an
    // accumulator-bumping projection inside the stream counts row
    // evaluations; with the pin it fires once per feed row, without it
    // each fold's eager state write would recompute the batch
    import spark.implicits._
    val stageDir =
      java.nio.file.Files.createTempDirectory("pin_feed").toString
    val root =
      java.nio.file.Files.createTempDirectory("pin_state").toString + "/r"
    val nRows = 40L
    (0L until nRows).map(Tuple1(_)).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(stageDir)
    val acc = spark.sparkContext.longAccumulator("batch_row_evals")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1); x
    }
    val src = spark.readStream.schema(spark.read.parquet(stageDir).schema)
      .parquet(stageDir)
      .select(bump($"id").as("id"))
    val init = Seq((-1L, 0L)).toDF("id", "m")
    def spec(n: String, k: Long) = StreamingOps.FoldSpec(n, init,
      (st, b) => st.unionByName(b.select($"id", ($"id" * k).as("m"))))
    val fin = StreamingOps.foreachBatchFoldMulti(src, root,
      Seq(spec("a", 2), spec("b", 3), spec("c", 5)))
    assert(fin("c").count() == nRows + 1)
    assert(acc.value == nRows,
      s"batch rows evaluated ${acc.value} times for $nRows rows × 3 folds " +
        "— the pinned-batch single-scan contract is broken")
    graft.io.FsOps.rm(spark, stageDir)
    graft.io.FsOps.rm(spark, root)
    graft.io.FsOps.rm(spark, root + "_ckpt")
  }

  test("foreachBatchFoldMulti shared derivations: once per trigger, same state, re-derived on replay") {
    import spark.implicits._
    type DF = org.apache.spark.sql.DataFrame
    val tmp = java.nio.file.Files.createTempDirectory("shared_fold").toString
    // three files, one per trigger
    (0 until 3).foreach(i => (i * 10L until i * 10L + 10L).toDF("id")
      .coalesce(1).write.mode("append").parquet(s"$tmp/feed"))
    def src = spark.readStream.schema(spark.read.parquet(s"$tmp/feed").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/feed")
    val derives = new java.util.concurrent.atomic.AtomicInteger
    val acc = spark.sparkContext.longAccumulator("derived_row_evals")
    val bump = udf { (x: Long) => acc.add(1); x }
    val derive = (b: DF) => {
      derives.incrementAndGet()
      b.select(bump($"id").as("id"), ($"id" * $"id").as("sq"))
    }
    val init = Seq((-1L, -1L)).toDF("id", "sq")
    val folds = Seq[(String, DF => DF)]("a" -> (d => d),
      "b" -> (d => d.select($"id", ($"sq" + 1).as("sq"))))
    // crash = store b fails on the second trigger
    def specs(crash: Boolean) = folds.map { case (n, f) =>
      StreamingOps.FoldSpec(n, init, (st, d) => {
        if (crash && n == "b" && d.filter($"id" === 15L).count() > 0) sys.error("crash")
        st.unionByName(f(d))
      }, input = Some("sq"))
    }
    def run(root: String, sp: Seq[StreamingOps.FoldSpec], resume: Boolean = false,
            shared: Seq[(String, DF => DF)] = Seq("sq" -> derive)) =
      StreamingOps.foreachBatchFoldMulti(src, s"$tmp/$root", sp, resume = resume,
        shared = shared).map { case (n, df) =>
        n -> df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
    val shared = run("shared", specs(crash = false))
    assert(derives.get == 3, s"derivation ran ${derives.get} times over 3 triggers")
    assert(acc.value == 30L, s"derived rows evaluated ${acc.value} times for 30 rows × 2 stores")
    assert(shared("a").size == 31)
    // the same stores folding the derivation privately land identically
    assert(run("private", folds.map { case (n, f) =>
      StreamingOps.FoldSpec(n, init, (st, b) => st.unionByName(f(derive(b))))
    }, shared = Nil) == shared)
    // crash on trigger 2, then resume: the replayed batch derives again
    intercept[Exception](run("crash", specs(crash = true)))
    derives.set(0)
    assert(run("crash", specs(crash = false), resume = true) == shared)
    assert(derives.get == 2, s"resume derived ${derives.get} times for 2 triggers")
    // every shared key must be read by some spec
    val unused = intercept[IllegalArgumentException](run("unused",
      specs(crash = false), shared = Seq("sq" -> derive, "spare" -> derive)))
    assert(unused.getMessage.contains("spare"))
    graft.io.FsOps.rm(spark, tmp)
  }

  test("fold retention: a reader of v{n} survives two further commits") {
    // the round-10 verdict's snapshot-isolation task: dropSuperseded
    // used to delete v{n} the moment v{n+1} committed, so a concurrent
    // reader mid-scan lost its files. With retain = 3 a reader holding
    // the then-latest snapshot must complete after TWO further commits,
    // and the window must still be bounded (keep-last-3, older swept).
    import spark.implicits._
    val stateDir =
      java.nio.file.Files.createTempDirectory("fold_retain").toString + "/s"
    val init = Seq((0, 1L)).toDF("bin", "n")
    init.write.mode("overwrite").parquet(s"$stateDir/v0")
    val fold = (state: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame) =>
      graft.ops.LibOps.histStateMerge(state, b)
    def batch(k: Int) = Seq((k, 1L)).toDF("bin", "n")
    StreamingOps.applyFoldBatch(spark, stateDir, 0L, batch(1), fold, retain = 3)
    // reader plans against the CURRENT latest (v1) — file listing is
    // resolved here; a delete of v1 before collect() would break it
    val reader = spark.read.parquet(s"$stateDir/v1")
    StreamingOps.applyFoldBatch(spark, stateDir, 1L, batch(2), fold, retain = 3)
    StreamingOps.applyFoldBatch(spark, stateDir, 2L, batch(3), fold, retain = 3)
    val got = reader.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((0, 1L), (1, 1L)),
      "reader of a superseded snapshot lost rows inside the retention window")
    val versions = graft.io.FsOps.ls(spark, stateDir)
      .map(_.split('/').last).filter(_.matches("v\\d+")).sorted
    assert(versions == Seq("v1", "v2", "v3"),
      s"retain = 3 should hold exactly the last 3 versions: $versions")
    graft.io.FsOps.rm(spark, stateDir)
  }

  test("applyIngestBatch: replays rewrite in place; partials are invisible to readIngestOutput") {
    // the round-10 advice finding made structural: the probe path's
    // sink used plain append, so a foreachBatch RETRY duplicated the
    // batch's rows. With batchId-keyed overwrite dirs a replay rewrites
    // identical output, and a crash mid-write leaves a partial without
    // _SUCCESS that the committed-only reader never selects.
    import spark.implicits._
    val outDir =
      java.nio.file.Files.createTempDirectory("ingest_replay").toString + "/o"
    val probe = (b: org.apache.spark.sql.DataFrame) =>
      b.withColumn("y", $"id" * 2)
    val b0 = Seq(1L, 2L).toDF("id")
    StreamingOps.applyIngestBatch(outDir, 0L, b0, probe)
    StreamingOps.applyIngestBatch(outDir, 0L, b0, probe) // replay: no dup
    val b1 = Seq(3L).toDF("id")
    StreamingOps.applyIngestBatch(outDir, 1L, b1, probe)
    // crash mid-write of batch 2: data lands but no _SUCCESS marker
    Seq(9L).toDF("id").withColumn("y", $"id" * 2)
      .write.mode("overwrite").parquet(s"$outDir/b2")
    graft.io.FsOps.rm(spark, s"$outDir/b2/_SUCCESS")
    val got = StreamingOps.readIngestOutput(spark, outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (2L, 4L), (3L, 6L)),
      s"replayed or uncommitted batches leaked into the read: $got")
    graft.io.FsOps.rm(spark, outDir)
  }
}
