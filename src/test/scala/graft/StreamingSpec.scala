package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Incremental-arrival test for the streaming surface: the windowed
  * aggregate must produce the same result whether the input arrives as
  * ONE batch (the AvailableNow bounded replay st1 uses) or as multiple
  * micro-batches with state carried between them — i.e., the stateful
  * aggregate really is incremental, not a batch job in disguise. */
class StreamingSpec extends AnyFunSuite with SparkTest.TempDirs {
  lazy val spark: SparkSession = SparkTest.session
  val sf = "/root/testdata/sf0.001"

  test("watermark drops data later than the delay in append mode") {
    import spark.implicits._
    val in = tempDir("graft_late_in")
    // one query, maxFilesPerTrigger=1 → one micro-batch per file, the
    // watermark advancing between batches (a restart-based variant is
    // impossible here: the memory sink only supports checkpoint
    // recovery in complete mode)
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("event_id", "tss")
        .select(col("event_id"), col("tss").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(s"$in/$name")
      // FileStreamSource orders files by modification time — pin it
      new java.io.File(s"$in/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    spark.catalog.dropTempView("graft_late")
    // batch 1 must exist before start (the source needs ≥1 file)
    writeBatch("b1", t0, Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 12:00:00")))
    val q = spark.readStream.schema(schema).parquet(s"$in/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_late")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable() // batch 1 done → watermark = 12:00 − 1h = 11:00
      // batch 2: on-time 11:30 + TOO-LATE 09:30 (behind the 11:00
      // watermark → dropped; its window is already closed)
      writeBatch("b2", t0 + 10000, Seq((3L, "2024-01-01 11:30:00"), (4L, "2024-01-01 09:30:00")))
      q.processAllAvailable()
      // batch 3: far-future event flushes the remaining open windows
      writeBatch("b3", t0 + 20000, Seq((5L, "2024-01-02 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val wins = spark.table("graft_late")
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wins.get("10:00").contains(1L), s"late 09:30 event must be dropped: $wins")
    assert(!wins.contains("09:00"), s"09:00 window must never appear: $wins")
    assert(wins.get("11:00").contains(1L), s"11:30 event was on time: $wins")
    assert(wins.get("12:00").contains(1L), s"12:00 event: $wins")
  }

  test("checkpointed query resumes across restarts: old state merges with new files") {
    import java.nio.file.Files
    val in = tempDir("graft_ckpt_in")
    val cp = tempDir("graft_ckpt_cp")
    val ev = graft.sources.Tables.events(spark, sf).cache()
    def writeHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = tempDir("graft_ckpt_tmp")
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(in)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("graft_ckpt")
        .option("checkpointLocation", cp)
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeHalf(col("event_id") % 2 === 0, "a")
    run() // first run: processes half A, checkpoints source offsets + state
    writeHalf(col("event_id") % 2 === 1, "b")
    run() // restart: must recover state and process ONLY file b
    val resumed = spark.table("graft_ckpt")
      .orderBy("event_type").collect().map(_.toSeq)
    val full = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq)
    assert(resumed.sameElements(full),
      "resumed query must merge checkpointed state with the new file")
  }

  test("foreachBatch sink persists micro-batch results that reassemble the batch answer") {
    val outDir = tempDir("graft_feb")
    val ev = graft.sources.Tables.events(spark, sf)
    val schema = ev.schema
    // foreachBatch is the production escape hatch: arbitrary batch sinks
    // (JDBC, upsert, parquet compaction) from a streaming query.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // declare the file's own footer schema (ts encoding varies across
    // testdata generations) and normalize like the engine's source does
    val onDisk = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = graft.sources.Tables.normalizeEventTs(
        spark.readStream.schema(onDisk).parquet(s"$sf/events.parque[t]"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/latest")
      }
      .start()
    q.awaitTermination()
    val persisted = spark.read.parquet(s"$outDir/latest")
      .orderBy("event_type").collect().map(_.toSeq)
    val batchAnswer = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq)
    assert(persisted.sameElements(batchAnswer))
  }

  test("windowed agg over two micro-batches equals single-batch result") {
    import java.nio.file.Files
    val srcDir = tempDir("graft_stream_src")
    val ev = graft.sources.Tables.events(spark, sf).cache()

    // split input by event_id parity into two parquet files that arrive
    // one micro-batch apart
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/b0")
    val firstFile = new java.io.File(s"$srcDir/b0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = tempDir("graft_stream_in")
    Files.copy(firstFile.toPath, java.nio.file.Paths.get(s"$in/part0.parquet"))

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    spark.catalog.dropTempView("graft_inc")
    val q = stream.writeStream.format("memory").queryName("graft_inc")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val afterB0 = spark.table("graft_inc").agg(sum("n_events")).collect()(0).getLong(0)

      // second batch arrives
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/b1")
      val secondFile = new java.io.File(s"$srcDir/b1").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(secondFile.toPath, java.nio.file.Paths.get(s"$in/part1.parquet"))
      q.processAllAvailable()

      val streamed = spark.table("graft_inc")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w"),
          col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = ev.groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
          .as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

      assert(afterB0 < ev.count(), "first micro-batch should be partial")
      assert(streamed == batch, "incremental state must converge to the batch result")
    } finally q.stop()
  }

  test("incremental sessionization merges sessions across micro-batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf).cache()

    // time-split: first half of the month arrives in batch 0, rest in batch 1
    val tMid = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val in = tempDir("graft_sess_in")
    def deliver(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = tempDir("graft_sess_b")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    deliver("b0", ev.filter(col("ts") < lit(tMid)))

    val typed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withWatermark("ts", "1 minute")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[graft.streaming.RawEvent]
    val sessions = graft.streaming.Streaming.sessionizeIncremental(typed)
    spark.catalog.dropTempView("graft_sess")
    val q = sessions.toDF().writeStream.format("memory").queryName("graft_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      deliver("b1", ev.filter(col("ts") >= lit(tMid)))
      q.processAllAvailable()

      val streamed = spark.table("graft_sess").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getInt(3), r.getDouble(4))).toSet
      // truth: the bounded oracle-matched sessionizer over the full input
      val truthAll = graft.streaming.Streaming.st2Sessionize(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(2), r.getInt(3), r.getDouble(4)))
      val lastPerUser = truthAll.groupBy(_._1).values.map(_.maxBy(_._2)).toSet
      val truthClosed = truthAll.toSet -- lastPerUser

      assert(streamed.nonEmpty)
      // every emitted session is a true session (boundary-spanning ones
      // merged correctly — a split session would mismatch on n/sum)
      assert(streamed.subsetOf(truthAll.toSet),
        s"emitted sessions disagree with batch truth: ${(streamed -- truthAll.toSet).take(3)}")
      // and the closed prefix is covered (trailing open sessions may
      // legitimately still be in state at end of bounded replay)
      val covered = truthClosed.intersect(streamed).size.toDouble / truthClosed.size
      assert(covered >= 0.9, f"only $covered%.2f of closed sessions emitted")
    } finally q.stop()
  }

  test("st7 streaming simhash dedup equals batch distinct fingerprints") {
    import org.apache.spark.sql.functions._
    val batch = {
      import spark.implicits._
      graft.operators.Dedup.simhashFingerprints(
        graft.sources.Tables.documents(spark, sf)
          .select(col("doc_id"), lower(trim(col("text"))).as("t"))
          .as[(Long, String)])
        .select(col("simhash")).distinct()
        .collect().map(_.getLong(0)).sorted
    }
    val streamed = graft.streaming.Streaming.st7StreamSimhashDedup(spark, sf)
      .collect().map(_.getLong(0))
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.length} fingerprints != batch ${batch.length}")
  }

  test("st7 dedups duplicate fingerprints that arrive micro-batches apart") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.OutputMode
    // Split the corpus into three files by doc_id mod 3, so the planted
    // duplicates (far apart in doc_id space) land in DIFFERENT
    // micro-batches under maxFilesPerTrigger=1. The 30-day horizon must
    // retain every fingerprint's state across the whole replay — with
    // the old 1-hour horizon this replay re-emits far-apart duplicates
    // and the batch DISTINCT oracle breaks.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val in = tempDir("graft_st7_in")
    for (b <- 0 until 3) {
      val tmp = tempDir("graft_st7_b")
      docs.filter(col("doc_id") % 3 === b).coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/b$b.parquet"))
    }
    val stream = spark.readStream.schema(graft.streaming.Streaming.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    spark.catalog.dropTempView("graft_st7mb")
    val q = graft.streaming.Streaming.st7Fingerprints(stream)
      .writeStream.format("memory").queryName("graft_st7mb")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "replay must actually span multiple micro-batches")
      val streamed = spark.table("graft_st7mb").collect().map(_.getLong(0)).sorted
      val batch = {
        import spark.implicits._
        graft.operators.Dedup.simhashFingerprints(
          docs.select(col("doc_id"), lower(trim(col("text"))).as("t")).as[(Long, String)])
          .select(col("simhash")).distinct().collect().map(_.getLong(0)).sorted
      }
      assert(streamed.sameElements(batch),
        s"multi-batch replay ${streamed.length} fingerprints != batch ${batch.length}")
    } finally q.stop()
  }

  test("st9 keep-rate aggregate is batch-arrival-order independent") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.OutputMode
    // Interleave the corpus across three micro-batches: the stateless
    // rule pass plus a commutative windowed aggregate must land on the
    // same per-(hour, lang) keep rates as a single-batch replay.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val in = tempDir("graft_st9_in")
    for (b <- 0 until 3) {
      val tmp = tempDir("graft_st9_b")
      docs.filter(col("doc_id") % 3 === b).coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/b$b.parquet"))
    }
    val stream = spark.readStream.schema(graft.streaming.Streaming.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    spark.catalog.dropTempView("graft_st9mb")
    val q = graft.streaming.Streaming.st9Aggregate(stream)
      .writeStream.format("memory").queryName("graft_st9mb")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "replay must actually span multiple micro-batches")
      val streamed = spark.table("graft_st9mb")
        .orderBy("win_start_s", "lang").collect().map(_.toSeq)
      val single = graft.streaming.Streaming.st9StreamQuality(spark, sf)
        .collect().map(_.toSeq)
      assert(streamed.sameElements(single),
        "multi-batch st9 keep rates diverged from the single-batch replay")
    } finally q.stop()
  }

  test("st10 transformWithState running stats equal the batch aggregate") {
    import org.apache.spark.sql.types.DecimalType
    val got = graft.streaming.Streaming.st10RunningStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // ts is TIMESTAMP(NANOS) — footer schema conversion needs the
    // legacy long mapping even though the projection skips the column
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val exp = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(28, 6))).cast("double"), 4)
          .as("sv"),
        max(col("value")).as("mv"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty && got.sameElements(exp),
      s"st10 running stats diverged from the batch aggregate " +
        s"(${got.length} vs ${exp.length} users)")
  }

  test("st11 timer sessionization is batch-split-invariant; timers fire") {
    import java.nio.file.Files
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    // split into 3 files by TIME tertile (a real stream arrives in time
    // order): sessions span file boundaries, and the watermark after an
    // early batch fires close timers MID-RUN — a user seen again later
    // must continue session numbering through the tombstone state
    val byTime = events.orderBy(col("ts"), col("event_id")).collect()
    val n = byTime.length
    val in = tempDir("graft_st11_in")
    Seq(byTime.slice(0, n / 3), byTime.slice(n / 3, 2 * n / 3),
        byTime.slice(2 * n / 3, n)).zipWithIndex.foreach { case (rows, b) =>
      val tmp = tempDir("graft_st11_b")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), events.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/b$b.parquet"))
    }
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    scoped.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = scoped.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val out = graft.streaming.Streaming.st11Transform(scoped, stream)
    val ckpt = tempDir("graft_st11_ck")
    val q = out.writeStream.format("memory").queryName("graft_st11mb")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = scoped.table("graft_st11mb")
      .orderBy(col("user_id"), col("session_id")).collect().map(_.toSeq)
    val single = graft.streaming.Streaming.st11SessionTimers(spark, sf)
      .collect().map(_.toSeq)
    assert(got.sameElements(single),
      "multi-batch st11 sessions diverged from the single-batch replay")
    // the run exercised both close paths: some last-sessions were
    // timer-closed (emitted without a closing event), some withheld
    // (expiry above the final watermark)
    events.createOrReplaceTempView("__st11_events")
    val total = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT user_id, s FROM (
        |    SELECT user_id, sum(new_s) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS s FROM (
        |      SELECT user_id, ts, event_id, CASE WHEN unix_micros(ts) -
        |        lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM __st11_events)) GROUP BY user_id, s)""".stripMargin)
      .head().getLong(0)
    assert(single.length < total, "no trailing session was withheld — the " +
      "watermark condition is vacuous at this fixture")
    val lastEmitted = scoped.table("graft_st11mb")
      .groupBy(col("user_id")).agg(max(col("session_id")).as("ls")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nSessions = spark.sql(
      """SELECT user_id, sum(new_s) + 1 AS ns FROM (
        |  SELECT user_id, CASE WHEN unix_micros(ts) - lag(unix_micros(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM __st11_events) GROUP BY user_id""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val timerClosed = lastEmitted.count { case (u, ls) =>
      nSessions.get(u).contains(ls + 1L) }
    assert(timerClosed > 0, "no last-session was timer-closed — the timer " +
      "path went unexercised")
  }

  test("st10 state carries the running aggregate across micro-batches") {
    import java.nio.file.Files
    // split events into 3 files by event_id mod 3 — a user's rows land
    // in DIFFERENT micro-batches under maxFilesPerTrigger=1, so the
    // final answer is right only if ValueState accumulates across them
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val in = tempDir("graft_st10_in")
    for (b <- 0 until 3) {
      val tmp = tempDir("graft_st10_b")
      events.filter(col("event_id") % 3 === b).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$in/b$b.parquet"))
    }
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    scoped.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val stream = scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val out = graft.streaming.Streaming.st10Transform(scoped, stream)
    val ckpt = tempDir("graft_st10_ck")
    val q = out.writeStream.format("memory").queryName("graft_st10mb")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val raw = scoped.table("graft_st10mb")
    val users = raw.select(col("user_id")).distinct().count()
    assert(raw.count() > users,
      "replay produced one emission per user — input did not span batches")
    val got = graft.streaming.Streaming.st10Latest(raw)
      .orderBy(col("user_id")).collect().map(_.toSeq)
    val single = graft.streaming.Streaming.st10RunningStats(spark, sf)
      .collect().map(_.toSeq)
    assert(got.sameElements(single),
      "multi-batch st10 running stats diverged from the single-batch replay")
  }

  test("st12 streamed index ingest serves bit-identically to the batch append") {
    val rows = graft.streaming.Streaming.st12StreamIndexIngest(spark, sf).collect()
    assert(rows.length == 50, s"expected 50 probe rows, got ${rows.length}")
    assert(rows.forall(_.getAs[Boolean]("append_ok")),
      "streamed micro-batch append diverged from s8's batch append")
    // the comparison has teeth: the reference side really is s8's own
    // serving answer (same rows modulo the gate columns)
    val ref = graft.operators.Similarity.s8AnnIndexAppend(spark, sf)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    assert(rows.map(key).sorted.sameElements(ref.map(key).sorted))
  }

  test("st12 compaction soak: 9 epochs end with every cell dir at most " +
    "MaxFilesPerCell files, at least one fold fired, and the probe stays " +
    "bit-identical to the batch append through the generation swaps") {
    var finalGen: String = null
    var gens = -1
    var counts: Map[String, Int] = Map.empty
    val rows = graft.streaming.Streaming.st12IngestAt(spark, sf, nEpochs = 9,
      inspect = (path, g) => {
        finalGen = path; gens = g
        counts = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("cell="))
          .map(d => d.getName ->
            d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      }).collect()
    // 9 epochs over ~the same cells would stack ~10 files/cell without
    // compaction — the fold MUST have fired and swapped generations
    assert(gens >= 1, "9-epoch ingest never triggered a compaction fold")
    assert(finalGen.contains("-gen"), s"pointer never left the base: $finalGen")
    assert(counts.nonEmpty, "final generation has no cell dirs")
    // the trigger checks every batch's touched cells right after the
    // append, so a cell can never END an epoch over the bound
    val over = counts.filter(_._2 > graft.operators.Similarity.MaxFilesPerCell)
    assert(over.isEmpty,
      s"cells past the compaction bound after the soak: $over")
    info(s"soak: gens=$gens cells=${counts.size} " +
      s"maxFiles=${counts.values.max}")
    // bit-identity held across every fold boundary
    assert(rows.length == 50, s"expected 50 probe rows, got ${rows.length}")
    assert(rows.forall(_.getAs[Boolean]("append_ok")),
      "9-epoch streamed ingest with compaction diverged from s8's batch append")
  }

  test("st12 compaction trigger unit: bytes rule counts only files below " +
    "the row-group threshold; count backstop fires independently") {
    import graft.operators.Similarity
    val dir = tempDir("graft_trig")
    def put(cell: Int, name: String, size: Int): Unit = {
      val d = new java.io.File(dir, s"cell=$cell"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, name).toPath,
        new Array[Byte](size))
    }
    // cell 0: three 60 B fragments (small at T=100) summing 180 > 100
    (0 until 3).foreach(i => put(0, s"f$i.parquet", 60))
    // cell 1: two 400 B files — each ≥ T, so NOT small: no bytes due
    (0 until 2).foreach(i => put(1, s"f$i.parquet", 400))
    // cell 2: six 400 B files — bytes say no, count backstop (4) says yes
    (0 until 6).foreach(i => put(2, s"f$i.parquet", 400))
    // cell 3: one 90 B file — small, but 90 ≤ 100: not due
    put(3, "f0.parquet", 90)
    val stats = Similarity.cellFileStats(dir, Set(0, 1, 2, 3), smallBytes = 100)
    assert(stats(0) == ((3, 180L)) && stats(1) == ((2, 0L)) &&
      stats(2) == ((6, 0L)) && stats(3) == ((1, 90L)), s"stats: $stats")
    def due(c: Int) = Similarity.foldDue(stats(c), maxFiles = 4, smallBytes = 100)
    assert(due(0), "a row group's worth of fragments must fold")
    assert(!due(1), "already-dense files must NOT re-fold on bytes")
    assert(due(2), "the listing-cost count backstop must still fire")
    assert(!due(3), "below both bounds must not fold")
  }

  test("st12 fold crash idempotency: re-running a fold onto a partially " +
    "written destination generation does not duplicate rows") {
    import graft.operators.Similarity
    import spark.implicits._
    val work = tempDir("graft_refold")
    val src = s"$work/gen0"
    (0 until 40).map(i => (i.toLong, i % 4)).toDF("vec_id", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(src)
    // stack a second file into cell=2 so the fold has something to merge
    (100 until 110).map(i => (i.toLong, 2)).toDF("vec_id", "cell")
      .coalesce(1).write.mode("append").partitionBy("cell").parquet(src)
    val expect = spark.read.parquet(src).collect().map(_.toSeq).sorted(
      Ordering.by((s: Seq[Any]) => s.mkString(",")))
    val dst = s"$work/gen1"
    Similarity.foldCells(spark, src, dst, Set(2))
    // the crash window: pointer still names gen0, trigger re-fires,
    // the replayed fold targets the SAME dst — it must start clean
    Similarity.foldCells(spark, src, dst, Set(2))
    val got = spark.read.parquet(dst).collect().map(_.toSeq).sorted(
      Ordering.by((s: Seq[Any]) => s.mkString(",")))
    assert(got.length == expect.length,
      s"replayed fold changed row count: ${got.length} vs ${expect.length}")
    assert(got.sameElements(expect), "replayed fold changed content")
  }

  test("st12 compaction regimes: few-large cells never fold on bytes; the " +
    "same ingest with every file 'small' folds on bytes with the count " +
    "backstop off; probes stay bit-identical in both") {
    import graft.operators.Similarity
    // FEW-LARGE regime: smallBytes=1 classifies every real file as
    // already-dense (no file is < 1 B) and the count backstop is off —
    // files accumulate past MaxFilesPerCell and that is CORRECT here:
    // a cell of row-group-sized files must not be rewritten
    var genLarge = -1
    var maxFiles = 0
    // largest per-cell SUM of streamed epoch fragments (epoch files
    // carry deterministic `epoch-<id>` names; base files don't) — the
    // accumulation the bytes regime must catch
    var maxEpochSum = 0L
    val rowsLarge = graft.streaming.Streaming.st12IngestAt(spark, sf,
      nEpochs = 9,
      inspect = (path, g) => {
        genLarge = g
        val cells = Option(new java.io.File(path).listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        maxFiles = cells.map(_.listFiles()
          .count(_.getName.endsWith(".parquet"))).max
        maxEpochSum = cells.map(_.listFiles()
          .filter(f => f.getName.startsWith("epoch-") &&
            f.getName.endsWith(".parquet")).map(_.length).sum).max
      },
      foldMaxFiles = 1000000, foldSmallBytes = 1L).collect()
    assert(genLarge == 0,
      s"bytes rule must not fold already-dense cells (folded $genLarge times)")
    assert(maxFiles > Similarity.MaxFilesPerCell,
      "regime never accumulated enough files to make the no-fold claim")
    assert(rowsLarge.forall(_.getAs[Boolean]("append_ok")),
      "no-fold regime diverged from the batch append")
    // BYTES regime: threshold one byte under the hottest cell's
    // measured fragment accumulation — the identical ingest re-run must
    // cross it at that cell's last touch at the latest, with the count
    // backstop still off, so any fold HAS to come from the bytes rule
    val thr = maxEpochSum - 1
    var genBytes = -1
    var finalGen: String = null
    val rowsBytes = graft.streaming.Streaming.st12IngestAt(spark, sf,
      nEpochs = 9,
      inspect = (path, g) => { finalGen = path; genBytes = g },
      foldMaxFiles = 1000000, foldSmallBytes = thr).collect()
    assert(genBytes >= 1, "bytes trigger never fired where fragments " +
      s"sum past a 'row group' of $thr B")
    assert(rowsBytes.forall(_.getAs[Boolean]("append_ok")),
      "bytes-triggered compaction diverged from the batch append")
    // the trigger runs after every epoch's append, so no cell can END
    // the soak still due a fold
    val cellIds = Option(new java.io.File(finalGen).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.getName.substring(5).toInt).toSet
    val stats = Similarity.cellFileStats(finalGen, cellIds, smallBytes = thr)
    val due = stats.filter(kv => Similarity.foldDue(kv._2, 1000000, thr))
    assert(due.isEmpty, s"cells still due a fold after the soak: $due")
  }

  test("st12+st18 vector-service soak: ingest stream appends+compacts while " +
    "the serving stream answers; serve bit-identity holds across the one " +
    "immutable-generation handoff; base untouched; zero leaked files") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    val s = spark
    val (basePath, anchors, nCells) = Similarity.baseIndexPath(s, sf)
    val nProbe = math.max(4, nCells / 4)
    def snapshot(root: String): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).map(f => f.getAbsolutePath -> f.length).toSet
    }
    val baseBefore = snapshot(basePath)
    val work = tempDir("graft_soak")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      // the ingest works on a PRIVATE hardlinked copy of the immutable
      // base (st12's staging); the serving pointer starts at the
      // pristine base itself and swaps ONCE, to the final folded
      // generation, when the ingest publishes
      val chain0 = s"$work/index"
      graft.FsUtil.linkTree(basePath, chain0)
      val raw = graft.sources.Tables.embeddings(s, sf)
      raw.filter(col("vec_id") % 10 === 9).repartition(9)
        .write.parquet(s"$work/in-ingest")
      val qSchema = graft.streaming.Streaming.st18WriteInputs(s, sf, s"$work/in-serve")
      val current = new java.util.concurrent.atomic.AtomicReference(basePath)
      val chain = new java.util.concurrent.atomic.AtomicReference(chain0)
      val gens = new java.util.concurrent.atomic.AtomicInteger(0)
      val published = new java.util.concurrent.CountDownLatch(1)
      val batch0Done = new java.util.concurrent.CountDownLatch(1)
      // INGEST stream: the REAL st12 starter (exactly-once epochs +
      // fold trigger) on the private chain; the soak's latches ride
      // the epoch hooks
      val qi = graft.streaming.Streaming.st12StartIngest(
        s, raw.schema, s"$work/in-ingest", chain0, anchors, chain, gens,
        s"$work/ckpt-ingest",
        beforeEpoch = id =>
          // serving batch 0 must answer from the BASE while ingest runs
          if (id == 0)
            batch0Done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        afterEpoch = id =>
          if (id == 8) current.set(chain.get())) // the ONE handoff
      // SERVING stream: probes whatever generation the pointer names
      val served = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, Array[Seq[Any]])]()
      val qs = s.readStream.schema(qSchema).option("maxFilesPerTrigger", "1")
        .parquet(s"$work/in-serve")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // batches 1+ wait out the handoff so the soak provably serves
          // from BOTH sides of the compaction boundary
          if (id > 0) published.await(240, java.util.concurrent.TimeUnit.SECONDS)
          val gen = current.get()
          val prep = batch.select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
            .withColumn("nrm", sqrt(graft.functions.VectorFunctions.vecNorm2(col("v"))))
          // bounded: <= NQueries*K serving rows per micro-batch
          val rows = Similarity.probeIndex(s, gen, prep, anchors, nProbe)
            .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
            .collect().map(_.toSeq)
          served.add((id, gen, rows))
          if (id == 0) batch0Done.countDown()
          ()
        }
        .option("checkpointLocation", s"$work/ckpt-serve")
        .trigger(Trigger.AvailableNow()).start()
      try qi.awaitTermination() finally published.countDown()
      qs.awaitTermination()

      val recs = served.toArray(Array.empty[(Long, String, Array[Seq[Any]])])
        .sortBy(_._1)
      assert(recs.length == 3, s"expected 3 serving batches, got ${recs.length}")
      assert(gens.get() >= 1, "the 9-epoch ingest never folded — the soak " +
        "did not cross a compaction boundary")
      assert(recs(0)._2 == basePath,
        s"serving batch 0 should have answered from the base: ${recs(0)._2}")
      assert(recs(1)._2.contains("-gen") && recs(2)._2.contains("-gen"),
        s"post-handoff batches should serve the folded generation: " +
          s"${recs(1)._2} / ${recs(2)._2}")
      // bit-identity: each batch's streamed answer equals a one-shot
      // probe of the SAME (immutable) generation, re-run after the soak
      recs.foreach { case (id, gen, rows) =>
        val qids = rows.map(_.head.asInstanceOf[Long]).distinct.toSet
        val again = Similarity.probeIndex(s, gen,
            Similarity.prepared(s, sf).filter(col("vec_id").isin(
              qids.toSeq.map(java.lang.Long.valueOf): _*)),
            anchors, nProbe)
          .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
          .collect().map(_.toSeq) // bounded: <= NQueries*K gate rows
        def ms(a: Array[Seq[Any]]) =
          a.groupBy(identity).view.mapValues(_.length).toMap
        assert(ms(rows) == ms(again),
          s"serving batch $id diverged from a one-shot probe of $gen")
      }
      // the final generation's content equals the batch-append reference
      // (st12's append identity), so the folds lost/duplicated nothing
      val (incrPath, incrAnchors, incrNProbe) = Similarity.incrIndexPath(s, sf)
      val cols = Seq(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      val fin = Similarity.probeIndex(s, current.get(),
        Similarity.prepared(s, sf), anchors, nProbe).select(cols: _*)
      val ref = Similarity.probeIndex(s, incrPath,
        Similarity.prepared(s, sf), incrAnchors, incrNProbe).select(cols: _*)
      assert(fin.exceptAll(ref).count() + ref.exceptAll(fin).count() == 0,
        "final soak generation diverged from the batch append")
      // the shared base artifact was never touched by the soak
      assert(snapshot(basePath) == baseBefore,
        "the soak mutated the immutable base generation")
      // compaction bound holds on the final generation
      val cellCounts = Option(new java.io.File(current.get()).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      assert(cellCounts.nonEmpty &&
        cellCounts.forall(_._2 <= Similarity.MaxFilesPerCell),
        s"cells past the bound: ${cellCounts.filter(_._2 > Similarity.MaxFilesPerCell).toSeq}")
    } finally rm(new java.io.File(work))
    // zero leaked workspace files
    assert(!new java.io.File(work).exists(), "soak workspace survived cleanup")
  }

  test("st19 streamed graph ingest: gates green end-to-end") {
    val rows = graft.streaming.Streaming.st19StreamGraphIngest(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    Seq("recall_ok", "reach_ok", "append_ok").foreach { c =>
      assert(rows.forall(_.getAs[Boolean](c)), s"st19 gate $c red")
    }
    info(f"st19 recall=${rows.head.getAs[Double]("recall4")}%.3f " +
      f"reach=${rows.head.getAs[Double]("reach4")}%.3f")
  }

  test("st20 streamed graph serve: three micro-batches drain, answers " +
    "multiset-identical to the one-shot graph probe") {
    val rows = graft.streaming.Streaming.st20StreamGraphServe(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("serve_ok")),
      "streamed graph answers diverged from the one-shot probe")
    assert(rows.forall(_.getAs[Boolean]("batches_ok")),
      s"expected 3 drained batches, got ${rows.head.getAs[Long]("n_batches")}")
  }

  test("st21 per-point search insert: gates green end-to-end, recall " +
    "within tolerance of the batch lane, delta ids identical") {
    val search = graft.streaming.Streaming.st21StreamGraphInsert(spark, sf)
      .collect()
    assert(search.nonEmpty)
    Seq("recall_ok", "reach_ok", "append_ok").foreach { c =>
      assert(search.forall(_.getAs[Boolean](c)), s"st21 gate $c red")
    }
    val batch = graft.streaming.Streaming.st19StreamGraphIngest(spark, sf)
      .collect()
    val rs = search.head.getAs[Double]("recall4")
    val rb = batch.head.getAs[Double]("recall4")
    info(f"st21 search-lane recall=$rs%.3f reach=${search.head.getAs[Double]("reach4")}%.3f " +
      f"vs st19 batch-lane recall=$rb%.3f")
    // recall-equivalence: the visited-set insert must not trail the
    // exhaustive shard kernel by more than a tolerance at the gate
    assert(rs >= rb - 0.1,
      f"search-lane recall $rs%.3f trails the batch lane $rb%.3f by > 0.1")
  }

  test("st19 single-epoch stream is content-identical to s22's batch " +
    "append (same candidate set ⇒ same delta and back-link rows)") {
    import graft.operators.Similarity
    val (incrPath, _) = Similarity.graphIncrPath(spark, sf)
    // a 1-epoch stream sees base + the whole batch at once — exactly
    // the batch append's candidate frame
    var streamed: Option[(Set[(Long, Seq[Long])], Set[(Long, Long)])] = None
    // run the streamed ingest but capture the workspace artifact
    // content before teardown, via the epoch hook
    val raw = graft.sources.Tables.embeddings(spark, sf)
    val work = tempDir("graft_st19_one")
    def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
    try {
      val gDir = s"$work/graph"
      Seq("base/adj", "reps").foreach { leg =>
        graft.FsUtil.linkTree(s"$incrPath/$leg", s"$gDir/$leg")
      }
      raw.filter(col("vec_id") % 10 === 9).repartition(1)
        .write.parquet(s"$work/in")
      val q = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$work/in", gDir, Similarity.graphIncrPath(spark, sf)._2,
        s"$work/ckpt")
      q.awaitTermination()
      streamed = Some((
        spark.read.parquet(s"$gDir/delta/adj")
          .select(col("vec_id"), col("nbrs")).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet,
        spark.read.parquet(s"$gDir/back")
          .select(col("vec_id"), col("extra")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet))
    } finally rm(new java.io.File(work))
    val batchDelta = spark.read.parquet(s"$incrPath/delta/adj")
      .select(col("vec_id"), col("nbrs")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet
    val batchBack = spark.read.parquet(s"$incrPath/back")
      .select(col("vec_id"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.get._1 == batchDelta,
      "single-epoch streamed delta diverged from the batch append's")
    assert(streamed.get._2 == batchBack,
      "single-epoch streamed back-links diverged from the batch append's")
  }

  test("merged fetch over applied epochs: two stores with the same content, " +
    "differing only in epoch file sizes and order, give identical forward " +
    "lists with one node row per id, the latest applied epoch's") {
    import graft.operators.Similarity
    import graft.streaming.Epochs
    val s = spark
    import s.implicits._
    def adj(rows: Seq[(Long, Seq[Long])]) = rows
      .map { case (id, nbrs) => (id, Array.fill(64)(id.toDouble), 1.0, nbrs) }
      .toDF("vec_id", "v", "nrm", "nbrs")
    def back(fwd: Seq[(Long, Seq[Long])]) =
      fwd.flatMap { case (id, nbrs) => nbrs.map(n => (n, id)) }.toDF("vec_id", "extra")
    // epoch 0 appends 100..149; epoch 1 appends 150..199 and re-lists
    // node 100 with a new list; epoch 2 is half-published (its files
    // are in place, the manifest does not list it)
    val e0 = (100L until 150L).map(i => i -> Seq(i % 10))
    val e1 = (100L -> Seq(5L, 7L)) +: (150L until 200L).map(i => i -> Seq(i % 10))
    val e2 = Seq(100L -> Seq(9L), 200L -> Seq(9L))
    val epochs = Seq(0L -> e0, 1L -> e1, 2L -> e2)
    // one parquet file per epoch leg; `big` writes it without dictionary
    // or compression, several times the size of the default encoding
    def writeLeg(df: org.apache.spark.sql.DataFrame, dir: String, id: Long,
                 big: Boolean): Long = {
      val tmp = tempDir("graft_fetch_leg")
      val w = df.coalesce(1).write.mode("overwrite")
      (if (big) w.option("compression", "none").option("parquet.enable.dictionary", "false")
       else w).parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(dir, s"epoch-$id.0.parquet")
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.length
    }
    def store(order: Seq[Long], bigEpoch: Long): (String, Map[Long, Long]) = {
      val dir = tempDir("graft_fetch_store")
      adj((0L until 10L).map(i => i -> Seq((i + 1) % 10))).write.parquet(s"$dir/base/adj")
      val sizes = order.map { e =>
        val rows = epochs.find(_._1 == e).get._2
        writeLeg(back(rows), s"$dir/back", e, big = false)
        e -> writeLeg(adj(rows), s"$dir/delta/adj", e, big = e == bigEpoch)
      }.toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_applied_epochs.txt"), "0\n1\n")
      (dir, sizes)
    }
    val (a, sizesA) = store(Seq(0L, 1L, 2L), bigEpoch = 0L)
    val (b, sizesB) = store(Seq(2L, 1L, 0L), bigEpoch = 1L)
    assert(sizesA(0L) > sizesA(1L) && sizesB(0L) < sizesB(1L),
      s"the fixture must invert the epoch file sizes: A=$sizesA B=$sizesB")
    val ids = (0L until 10L) ++ (100L to 200L)
    def lists(dir: String, reverse: Boolean, ids: Seq[Long]): Map[Long, Seq[Long]] = {
      val applied = Epochs.applied(dir)
      def files(leg: String) = {
        val fs = Epochs.appliedFiles(s"$dir/$leg", applied)
        if (reverse) fs.reverse else fs
      }
      val rows = Similarity.fetchIncrFn(s, s"$dir/base/adj", files("delta/adj"),
        files("back"))(ids).collect()
      val got = rows.map(r => r.getLong(0) -> r.getSeq[Long](3).toSeq)
      assert(got.map(_._1).distinct.length == got.length,
        s"several node rows for one id: ${got.groupBy(_._1).filter(_._2.length > 1).keys}")
      got.toMap
    }
    val la = lists(a, reverse = false, ids)
    val lb = lists(b, reverse = true, ids)
    assert(la == lb, "the same content fetched different lists")
    assert(la(100L) == Seq(5L, 7L), s"node 100 is not epoch 1's row: ${la(100L)}")
    assert(!la.contains(200L) && !la(9L).contains(200L),
      "the unapplied epoch leaked into the fetch")
    assert(la.keySet == ids.filter(_ < 200L).toSet)
    // the distributed lane (past FetchLocalMaxIds ids) applies the same rule
    val wide = ids ++ (1000000L until 1000000L + Similarity.FetchLocalMaxIds)
    assert(lists(a, reverse = false, wide) == la && lists(b, reverse = true, wide) == la,
      "the distributed merge differs from the driver merge")
  }

  test("epoch drain: one epoch per input file under its source-log batch id, " +
    "also when a restart plans one micro-batch over two files") {
    import spark.implicits._
    val in = tempDir("graft_drain_in")
    val ckpt = s"${tempDir("graft_drain_ck")}/ck"
    val t0 = System.currentTimeMillis() - 60000
    def put(i: Long): Unit = {
      val tmp = tempDir("graft_drain_t")
      Seq(i).toDF("x").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, s"f$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000)
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    def run(): Unit = graft.streaming.Epochs.drain(spark,
        new org.apache.spark.sql.types.StructType().add("x", "long"), in, ckpt) { (b, id) =>
      seen.add(id -> b.collect().map(_.getLong(0)).toSeq) // bounded: one row per file
    }.awaitTermination()
    put(0); put(1); run()
    // the crash window: the source logged batch 1's file, but neither
    // the offsets log nor the commit log holds batch 1; the restart
    // plans batch 1 over the logged file AND the next new one
    Seq("offsets", "commits").foreach { d =>
      Seq("1", ".1.crc").foreach(n => new java.io.File(s"$ckpt/$d", n).delete())
    }
    assert(new java.io.File(s"$ckpt/sources/0/1").isFile)
    put(2); run()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq(0L -> Seq(0L), 1L -> Seq(1L), 1L -> Seq(1L), 2L -> Seq(2L)),
      "each file must drain as its own epoch, replayed under the same id")
  }

  test("st19 exactly-once: kill after the first commit, force an epoch " +
    "replay — no double-append, content identical to the straight run") {
    import graft.operators.Similarity
    val (incrPath, anchors) = Similarity.graphIncrPath(spark, sf)
    val raw = graft.sources.Tables.embeddings(spark, sf)
    def stage(gDir: String): Unit =
      Seq("base/adj", "reps").foreach { leg =>
        graft.FsUtil.linkTree(s"$incrPath/$leg", s"$gDir/$leg")
      }
    def deltaContent(gDir: String) =
      spark.read.parquet(s"$gDir/delta/adj")
        .select(col("vec_id"), col("nbrs")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet
    def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
    val workA = tempDir("graft_st19_replay")
    val workB = tempDir("graft_st19_straight")
    try {
      // straight 3-epoch run → reference content
      stage(s"$workB/graph")
      raw.filter(col("vec_id") % 10 === 9).repartition(3)
        .write.parquet(s"$workB/in")
      val qB = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$workB/in", s"$workB/graph", anchors, s"$workB/ckpt")
      qB.awaitTermination()
      val refContent = deltaContent(s"$workB/graph")
      // killed run: stop after the first commit, delete the newest
      // commit record (the crash-between-move-and-commit window),
      // restart — the replayed epoch must rewrite identical bytes
      stage(s"$workA/graph")
      // IDENTICAL input bytes: link workB's epoch files (repartition
      // is deterministic, but sharing the files removes even that
      // assumption from what this spec proves)
      val inA = new java.io.File(s"$workA/in")
      inA.mkdirs()
      new java.io.File(s"$workB/in").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(s"$workA/in", f.getName), f.toPath)
        }
      val ckptA = s"$workA/ckpt"
      val q1 = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$workA/in", s"$workA/graph", anchors, ckptA)
      val commits = new java.io.File(s"$ckptA/commits")
      val deadline = System.currentTimeMillis() + 180000
      while (!new java.io.File(commits, "0").isFile && q1.isActive &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      assert(new java.io.File(commits, "0").isFile,
        "first epoch never committed")
      // drain the rest
      val q2 = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$workA/in", s"$workA/graph", anchors, ckptA)
      q2.awaitTermination()
      // force a replay of the newest epoch — TWO windows:
      val last = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).max
      val pre = deltaContent(s"$workA/graph")
      // window 1 (manifest-present): delete only the commit record —
      // the replayed epoch hits the applied-manifest skip branch
      assert(new java.io.File(commits, last.toString).delete())
      new java.io.File(commits, s".$last.crc").delete()
      val q3 = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$workA/in", s"$workA/graph", anchors, ckptA)
      q3.awaitTermination()
      val post = deltaContent(s"$workA/graph")
      assert(post == pre, "the epoch replay changed the delta content")
      // window 2 (the HARD one — crash between the epoch-file move and
      // markEpochApplied): the epoch's files are in place but the
      // manifest does not list it, so the replay must RECOMPUTE the
      // epoch against the applied-only candidate state — excluding the
      // half-published epoch's own files — and rewrite identical bytes
      val manifest = new java.io.File(s"$workA/graph", "_applied_epochs.txt")
      def readManifest(): Seq[Long] = {
        val src0 = scala.io.Source.fromFile(manifest, "UTF-8")
        try src0.getLines().filter(_.nonEmpty).map(_.toLong).toSeq.sorted
        finally src0.close()
      }
      val appliedIds = readManifest()
      val lastEpoch = appliedIds.max
      java.nio.file.Files.writeString(manifest.toPath,
        appliedIds.dropRight(1).mkString("", "\n", "\n"))
      assert(new java.io.File(commits, last.toString).delete())
      new java.io.File(commits, s".$last.crc").delete()
      val q4 = graft.streaming.Streaming.st19StartIngest(spark, raw.schema,
        s"$workA/in", s"$workA/graph", anchors, ckptA)
      q4.awaitTermination()
      val post2 = deltaContent(s"$workA/graph")
      assert(post2 == pre,
        "the move-before-manifest replay did not rewrite identical " +
          "content — the half-published epoch leaked into its own " +
          "candidate state")
      // the manifest re-lists the recomputed epoch
      assert(readManifest().contains(lastEpoch))
      assert(post == refContent,
        "killed-and-replayed run diverged from the straight run")
      // no double-append: one delta row per batch vector
      val nBatch = raw.filter(col("vec_id") % 10 === 9).count()
      assert(post.size == nBatch.toInt)
    } finally { rm(new java.io.File(workA)); rm(new java.io.File(workB)) }
  }

  test("st12 exactly-once ingest: kill after the first commit, force an " +
    "epoch replay, restart from the checkpoint with FRESH pointers — " +
    "no double-append, index content bit-identical to the batch append") {
    import graft.operators.Similarity
    val (basePath, anchors, nCells) = Similarity.baseIndexPath(spark, sf)
    val work = tempDir("graft_st12_restart")
    def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
    try {
      val idxDir = s"$work/index"
      graft.FsUtil.linkTree(basePath, idxDir)
      val raw = graft.sources.Tables.embeddings(spark, sf)
      // 9 epochs: folds WILL fire (the 9-epoch soak proves ≥1), so the
      // final forced replay exercises the manifest carried through a
      // fold generation — the deep idempotence case
      raw.filter(col("vec_id") % 10 === 9).repartition(9)
        .write.parquet(s"$work/in")
      val ckpt = s"$work/ckpt"
      // run 1: stop as soon as the first epoch is committed
      val cur1 = new java.util.concurrent.atomic.AtomicReference(idxDir)
      val gen1 = new java.util.concurrent.atomic.AtomicInteger(0)
      val q1 = graft.streaming.Streaming.st12StartIngest(spark, raw.schema,
        s"$work/in", idxDir, anchors, cur1, gen1, ckpt)
      val commits = new java.io.File(s"$ckpt/commits")
      val deadline = System.currentTimeMillis() + 180000
      while (!new java.io.File(commits, "0").isFile && q1.isActive &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      assert(new java.io.File(commits, "0").isFile, "first epoch never committed")
      // run 2: FRESH pointer refs — the durable _CURRENT file (not the
      // in-memory state run 1 lost) must resume the right generation —
      // drains the remaining epochs to completion, folds firing
      val cur2 = new java.util.concurrent.atomic.AtomicReference(idxDir)
      val gen2 = new java.util.concurrent.atomic.AtomicInteger(0)
      val q2 = graft.streaming.Streaming.st12StartIngest(spark, raw.schema,
        s"$work/in", idxDir, anchors, cur2, gen2, ckpt)
      q2.awaitTermination()
      assert(cur2.get().contains("-gen"),
        "9 epochs never folded — the post-fold replay below would be vacuous")
      // the crash-after-append-before-commit window, induced
      // deterministically AFTER folds have absorbed earlier epochs:
      // deleting the newest commit record makes a restart re-execute
      // exactly that epoch against the POST-FOLD generation, whose
      // carried manifest must turn the replay into a no-op
      val last = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).max
      assert(new java.io.File(commits, last.toString).delete())
      new java.io.File(commits, s".$last.crc").delete()
      val preReplay = spark.read.parquet(cur2.get())
        .select(col("vec_id")).collect().map(_.getLong(0)).sorted // bounded: sf0.001 corpus ids, spec-only
      // run 3: fresh refs again; the replayed epoch must change NOTHING
      val cur3 = new java.util.concurrent.atomic.AtomicReference(idxDir)
      val gen3 = new java.util.concurrent.atomic.AtomicInteger(0)
      val q3 = graft.streaming.Streaming.st12StartIngest(spark, raw.schema,
        s"$work/in", idxDir, anchors, cur3, gen3, ckpt)
      q3.awaitTermination()
      val finalGen = cur3.get()
      val postReplay = spark.read.parquet(finalGen)
        .select(col("vec_id")).collect().map(_.getLong(0)).sorted // bounded: sf0.001 corpus ids, spec-only
      assert(postReplay.sameElements(preReplay),
        "the post-fold epoch replay changed the index content")
      // no double-append: exactly one row per corpus vector
      val idx = spark.read.parquet(finalGen)
      val want = raw.count()
      assert(idx.count() == want,
        s"replayed epoch double-appended: ${idx.count()} rows vs $want vectors")
      assert(idx.select(col("vec_id")).distinct().count() == want,
        "duplicate vec_ids after the replay")
      // probe bit-identity vs the batch-append reference (st12's gate)
      val nProbe = math.max(4, nCells / 4)
      val cols = Seq(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      val mine = Similarity.probeIndex(spark, finalGen,
        Similarity.prepared(spark, sf), anchors, nProbe).select(cols: _*)
      val (incrPath, incrAnchors, incrNProbe) = Similarity.incrIndexPath(spark, sf)
      val ref = Similarity.probeIndex(spark, incrPath,
        Similarity.prepared(spark, sf), incrAnchors, incrNProbe).select(cols: _*)
      assert(mine.exceptAll(ref).count() + ref.exceptAll(mine).count() == 0,
        "post-replay index diverged from the batch append")
    } finally rm(new java.io.File(work))
  }

  test("st12 workspace is residue-free after success AND after a forced failure") {
    val roots = Seq(new java.io.File(System.getProperty("java.io.tmpdir")),
      new java.io.File("/dev/shm"))
    def residue(): Seq[String] = roots.flatMap { r =>
      Option(r.list()).getOrElse(Array.empty)
        .filter(n => n.startsWith("graft_st12") || n.startsWith("graft-ckpt-st12"))
    }
    // success path: the bit-identity spec above already ran st12; any
    // surviving workspace is a leak regardless of which test made it
    assert(residue().isEmpty, s"st12 success path left workspace(s): ${residue()}")
    // failure path: the lifecycle helper must delete the workspace and
    // checkpoint when the body throws mid-stream (round 10: a crashed
    // pass-2 st12 left its staged generation on disk)
    val boom = intercept[RuntimeException] {
      graft.streaming.Streaming.withWorkspace("st12") { (work, ckpt) =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(work, "index", "cell=0"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(work, "index", "cell=0", "part-0.parquet"), "x")
        ckpt.mkdirs()
        throw new RuntimeException("forced mid-stream failure")
      }
    }
    assert(boom.getMessage == "forced mid-stream failure")
    assert(residue().isEmpty, s"st12 failure path left workspace(s): ${residue()}")
  }

  test("watermark late-filter lag: AvailableNow drains filter one batch behind " +
    "eviction; incremental arrival filters at the current watermark (st17's basis)") {
    import java.nio.file.Files
    import spark.implicits._
    val work = tempDir("graft_wmlag")
    def writeOne(dir: String, name: String, mtime: Long, ts: Seq[String]): Unit = {
      val tmp = tempDir("graft_wmlag_t")
      ts.toDF("raw").select(col("raw").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(java.nio.file.Paths.get(dir))
      val dst = new java.io.File(dir, name)
      Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    def dropsOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.map(p => Option(p.stateOperators)
        .map(_.map(_.numRowsDroppedByWatermark).sum).getOrElse(0L)).sum
    val t0 = System.currentTimeMillis() - 60000
    // AvailableNow drain, 2 pre-listed files: the straggler arrives ONE
    // batch after the watermark-raising row — inside the lag grace, NOT
    // dropped
    val inA = s"$work/a"
    writeOne(inA, "b0.parquet", t0, Seq("2024-01-01 10:00:00", "2024-01-01 20:00:00"))
    writeOne(inA, "b1.parquet", t0 + 10000, Seq("2024-01-01 10:30:00"))
    def drain(in: String, name: String): Long = {
      val ck = tempDir("graft_wmlag_ck")
      spark.catalog.dropTempView(name)
      val q = spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(in)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); dropsOf(q)
    }
    assert(drain(inA, "graft_wmlag_a") == 0L,
      "2-batch AvailableNow drain: straggler rides the one-batch lag grace")
    // 3 pre-listed files: the straggler lands one batch PAST the grace
    val inB = s"$work/b"
    writeOne(inB, "b0.parquet", t0, Seq("2024-01-01 10:00:00", "2024-01-01 20:00:00"))
    writeOne(inB, "b1.parquet", t0 + 10000, Seq("2024-01-01 19:30:00"))
    writeOne(inB, "b2.parquet", t0 + 20000, Seq("2024-01-01 10:30:00"))
    assert(drain(inB, "graft_wmlag_b") == 1L,
      "3-batch AvailableNow drain: straggler past the lag grace must drop")
    // incremental arrival: the SAME 2-batch layout drops with no lag
    val inC = s"$work/c"
    writeOne(inC, "c0.parquet", t0, Seq("2024-01-01 10:00:00", "2024-01-01 20:00:00"))
    val ck = tempDir("graft_wmlag_ck")
    spark.catalog.dropTempView("graft_wmlag_c")
    val q = spark.readStream.schema("ts timestamp").parquet(inC)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_wmlag_c")
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      writeOne(inC, "c1.parquet", t0 + 10000, Seq("2024-01-01 10:30:00"))
      q.processAllAvailable()
      assert(dropsOf(q) == 1L,
        "incremental arrival: late row filtered at the current watermark, no lag")
    } finally q.stop()
  }

  test("st17 late-data audit: batch split is exhaustive and the groups metric " +
    "bounds the rows metric") {
    val rows = graft.streaming.Streaming.st17LateDataAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val survivors = rows.map(_.getAs[Long]("n_events")).sum
    val droppedRows = rows.head.getAs[Long]("n_dropped_rows")
    val droppedGroups = rows.head.getAs[Long]("n_dropped_groups")
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(survivors + droppedRows == total,
      s"split not exhaustive: $survivors survivors + $droppedRows dropped != $total")
    assert(droppedGroups <= droppedRows && droppedGroups > 0L && droppedRows > 0L,
      s"audit teeth: groups=$droppedGroups rows=$droppedRows must be positive, " +
        "groups <= rows")
  }

  test("st18 streamed ANN serving: three micro-batches, answers bit-identical " +
    "to the one-shot probe, every query fully served") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = graft.streaming.Streaming.st18StreamAnnServe(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("serve_ok") && r.getAs[Boolean]("batches_ok"),
        s"serving identity broken: $r")
    }
    // the drain really interleaved: all three batches produced answers
    assert(rows.map(_.getAs[Long]("batch_id")).toSet == Set(0L, 1L, 2L),
      "queries were not served across three distinct micro-batches")
    // the durable identity witness equals a live one-shot probe — a
    // stale or corrupted stored baseline must fail here, not pass
    // silently through the found-witness fast path
    val stored = graft.operators.Similarity.st18OneShotWitness(spark, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    val live = graft.operators.Similarity.st18OneShotLive(spark, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(stored.sameElements(live), "st18 witness drifted from a live probe")
    // every query served exactly top-K, ranks dense from 1
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rs.length),
        s"query $q ranks not dense")
    }
  }

  test("st18 exactly-once restart: kill after the first commit, force an " +
    "epoch replay, restart from the checkpoint — served union still " +
    "bit-matches the one-shot witness") {
    val sf01 = "/root/testdata/sf0.01"
    val work = tempDir("graft_st18_restart")
    def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
    try {
      val inDir = s"$work/in"; val outDir = s"$work/out"
      val ckpt = s"$work/ckpt"
      val schema =
        graft.streaming.Streaming.st18WriteInputs(spark, sf01, inDir)
      // run 1: stop as soon as the first epoch is committed (later
      // epochs may or may not have run — both shapes are valid here)
      val q1 = graft.streaming.Streaming.st18StartServing(
        spark, sf01, schema, inDir, outDir, ckpt)
      val commits = new java.io.File(s"$ckpt/commits")
      val deadline = System.currentTimeMillis() + 180000
      while (!new java.io.File(commits, "0").isFile && q1.isActive &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      assert(new java.io.File(commits, "0").isFile,
        "first epoch never committed")
      // force a GENUINE at-least-once replay: the newest committed
      // epoch's sink write already happened — deleting its commit
      // record makes the restarted stream re-execute exactly that
      // epoch against the already-written batch dir (the crash-after-
      // sink-write-before-commit window, induced deterministically)
      val last = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).max
      assert(new java.io.File(s"$outDir/batch-$last").isDirectory,
        s"sink write for committed epoch $last missing")
      assert(new java.io.File(commits, last.toString).delete())
      // the local FS keeps a checksum sibling; leaving it behind makes
      // the replayed commit's rename fail spuriously
      new java.io.File(commits, s".$last.crc").delete()
      // run 2: restart from the same checkpoint, drain to completion —
      // epoch `last` replays and OVERWRITES its own dir (exactly-once),
      // the remaining inputs drain normally
      val q2 = graft.streaming.Streaming.st18StartServing(
        spark, sf01, schema, inDir, outDir, ckpt)
      q2.awaitTermination()
      val served = spark.read.parquet(s"$outDir/batch-*")
      val got = served.select(col("query_id"), col("neighbor_id"),
        col("cos4"), col("rn")).collect().map(_.toSeq)
      val witness = graft.operators.Similarity.st18OneShotWitness(spark, sf01)
        .collect().map(_.toSeq.take(4))
      def ms(a: Array[Seq[Any]]) =
        a.groupBy(identity).view.mapValues(_.length).toMap
      assert(ms(got) == ms(witness),
        "restarted drain double-served or dropped answers")
      assert(served.select(col("batch_id")).distinct().count() == 3,
        "three input files must drain as three epochs across the runs")
    } finally rm(new java.io.File(work))
  }

  test("st16 streaming funnel equals the batch r36 funnel bit-for-bit") {
    val streamed = graft.streaming.Streaming.st16StreamFunnel(spark, sf)
      .collect().map(_.toSeq)
    val batch = graft.operators.Relational.r36(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.sameElements(batch),
      s"streamed funnel diverged from batch r36:\n got=${streamed.toSeq}\n exp=${batch.toSeq}")
    // teeth: the funnel must actually discriminate at this sf (every
    // stage non-empty and strictly shrinking would make a vacuous pass
    // suspicious; r36's gate data shows 150 -> 60 -> 25-ish)
    val n = streamed.map(_(2).asInstanceOf[Long])
    assert(n(0) > n(1) && n(1) > n(2) && n(2) > 0,
      s"funnel stages not discriminating: ${n.toSeq}")
  }

  test("st13 CDC apply equals the batch latest-per-key; bucket rewrites are targeted") {
    val got = graft.streaming.Streaming.st13StreamCdcApply(spark, sf).collect()
    assert(got.nonEmpty)
    // batch reference computed in-engine: latest event per user + count
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ref = graft.sources.Tables.events(spark, sf)
      .withColumn("rn", row_number().over(byKey))
      .withColumn("n_updates", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("value").as("last_value"), col("n_updates"))
      .orderBy(col("user_id"))
      .collect()
    assert(got.length == ref.length,
      s"snapshot key count ${got.length} != reference ${ref.length}")
    got.zip(ref).foreach { case (g, r) =>
      assert(g.toSeq == r.toSeq, s"CDC divergence: $g vs $r")
    }
    // targeted rewrite exercised: 3 batches recorded; batch 2 carries
    // a key range DISJOINT from batch 1, so batch 1's buckets must
    // survive by byte-copy, never rewrite
    val batches = graft.streaming.Streaming.st13LastBatches
    assert(batches.length == 3, s"expected 3 micro-batches, got $batches")
    val (affected2, copied2) = batches(1)
    assert(copied2 > 0,
      s"no bucket survived by copy — rewrite is not delta-shaped: $batches")
    val nBuckets = graft.streaming.Streaming.st13LastBuckets
    assert(affected2 < nBuckets,
      s"batch touched the whole $nBuckets-bucket space: $batches")
    // geometry follows cardinality: keys/bucket lands at or under the
    // target once the count is off its floor, and the derivation is
    // the documented clamped power of two
    assert(nBuckets == graft.streaming.Streaming.st13BucketCount(
      graft.sources.Tables.events(spark, sf)
        .agg(approx_count_distinct(col("user_id"))).head.getLong(0)))
    assert(graft.streaming.Streaming.st13BucketCount(1L) == 16,
      "floor: tiny key spaces stay at 16 buckets")
    assert(graft.streaming.Streaming.st13BucketCount(1024L * 64) == 64,
      "64k keys at 1024 keys/bucket → 64 buckets")
    assert(graft.streaming.Streaming.st13BucketCount(Long.MaxValue) == 4096,
      "ceiling: the bucket count clamps at 4096")
  }

  test("st14 trending terms: multiple event-time windows, dense ranks, exact counts") {
    val rows = graft.streaming.Streaming.st14TrendingTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    val byWin = rows.groupBy(_.getLong(0))
    assert(byWin.size > 1, "only one window — the windowed dimension is untested")
    byWin.foreach { case (w, rs) =>
      val ranks = rs.map(_.getInt(3)).sorted
      assert(ranks.sameElements(1 to ranks.length) && ranks.length <= 5,
        s"window $w ranks not dense 1..k<=5: ${ranks.toSeq}")
      // counts non-increasing down the ranks
      val byRank = rs.sortBy(_.getInt(3)).map(_.getLong(2))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"window $w counts rise with rank")
        case _ =>
      }
    }
  }

  test("st15 drift: windows track the doc span, tv bounded; " +
    "a whole-span window degenerates to tv = 0 against its own corpus") {
    val rows = graft.streaming.Streaming.st15StreamDrift(spark, sf).collect()
    assert(rows.length > 1, "only one window — the windowed dimension is untested")
    rows.foreach { r =>
      val tv = r.getAs[Long]("tv_bp")
      assert(tv >= 0 && tv <= 10000, s"tv_bp out of range: $r")
      assert(r.getAs[Long]("vocab_win") <= r.getAs[Long]("n_tok"), s"vocab > tokens: $r")
    }
    // degenerate replay: one window covering every document makes the
    // window distribution THE corpus distribution — the TV identity
    // (incl. the folded absent-words term) must collapse to exactly 0
    val one = graft.streaming.Streaming
      .st15DriftImpl(spark, sf, "3650 days", "graft_st15_spec").collect()
    assert(one.length == 1, s"expected a single whole-span window, got ${one.length}")
    assert(one.head.getAs[Long]("tv_bp") == 0L,
      s"self-drift must be exactly zero: ${one.head}")
  }

  test("RocksDB state store provider: identical results to the default provider") {
    // At 100 TB the stateful operators' state (windows, join buffers)
    // outgrows executor heaps; RocksDB spills it to local disk. Same
    // query, swapped provider, bit-identical output is the contract.
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks = graft.streaming.Streaming.st1StreamWindow(scoped, sf).collect()
    val default = graft.streaming.Streaming.st1StreamWindow(spark, sf).collect()
    assert(rocks.length == default.length && rocks.nonEmpty)
    assert(rocks.map(_.toSeq).sameElements(default.map(_.toSeq)))
  }
}
