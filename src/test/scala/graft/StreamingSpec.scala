package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.StreamingOps

/** Structured Streaming restatements: the stream transform is the same
  * function the batch oracle checks, so these specs verify the streaming
  * EXECUTION path (file source, watermark, AvailableNow, parquet sink). */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("eventWindows: stream over file source == batch result") {
    val src = tmp("ev_src")
    Tables.events(spark, sfDir).limit(500)
      .write.mode("overwrite").parquet(src)
    val batch = StreamingOps.eventWindows(spark.read.parquet(src))
      .collect().map(_.toSeq).toSet

    val schema = spark.read.parquet(src).schema
    val q = StreamingOps.eventWindowsStream(spark, src, schema)
      .writeStream.format("memory").queryName("ev_windows")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_windows").collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("incrementalDedupStream: base anti-join + cross-batch first-seen state") {
    import spark.implicits._
    val src = tmp("incdedup_src")
    // static base corpus: two documents
    val base = Seq((1L, "the base document one"), (2L, "the base document two"))
      .toDF("doc_id", "text")
    val baseHashes = base.select(
      graft.functions.TextFunctions.contentHash(col("text")).as("h"))
    // micro-batch 1: A new, B duplicates base doc 1
    Seq((10L, "a fresh new document alpha"), (11L, "the base document one"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = StreamingOps.incrementalDedupStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        baseHashes)
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("inc_dedup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(afterB1 == Set(10L), afterB1.toString) // B dropped vs base
      // micro-batch 2: C duplicates A ACROSS batches (normalization
      // differs — case + whitespace — but the canonical hash matches),
      // D is new
      Seq((12L, "A  Fresh   NEW document ALPHA"), (13L, "another new document"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val afterB2 = spark.table("inc_dedup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(afterB2 == Set(10L, 13L), afterB2.toString) // C dropped by state
    } finally q.stop()
  }

  test("incrementalDedupStreamWindowed: in-horizon dups drop, post-expiry dups re-admit") {
    import spark.implicits._
    val src = tmp("incdedup_wm_src")
    val base = Seq((1L, "the base document one")).toDF("doc_id", "text")
    val baseHashes = base.select(
      graft.functions.TextFunctions.contentHash(col("text")).as("h"))
    def batch(rows: Seq[(Long, String, String)], mode: String): Unit =
      rows.toDF("doc_id", "text", "ts_s")
        .select(col("doc_id"), col("text"), to_timestamp(col("ts_s")).as("ts"))
        .coalesce(1).write.mode(mode).parquet(src)
    // B1: A new at 10:00; base dup at 10:00 (anti-join drop, stateless)
    batch(Seq((10L, "a fresh new document alpha", "2024-01-01 10:00:00"),
      (11L, "the base document one", "2024-01-01 10:00:00")), "overwrite")
    val schema = spark.read.parquet(src).schema
    val q = StreamingOps.incrementalDedupStreamWindowed(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        baseHashes, "ts", "10 minutes")
      .writeStream.format("memory").queryName("inc_dedup_wm")
      .outputMode("append").start()
    def ids() = spark.table("inc_dedup_wm").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    try {
      q.processAllAvailable()
      assert(ids() == Set(10L), ids().toString)
      // B2: C duplicates A at 10:05 — inside the horizon (A's state
      // expires at 10:10; watermark is 09:50) → dropped
      batch(Seq((12L, "a fresh new document alpha", "2024-01-01 10:05:00")),
        "append")
      q.processAllAvailable()
      assert(ids() == Set(10L), ids().toString)
      // B3: D new at 11:00 — advances the watermark past A's expiry
      batch(Seq((13L, "another new document", "2024-01-01 11:00:00")),
        "append")
      q.processAllAvailable()
      assert(ids() == Set(10L, 13L), ids().toString)
      // B4: E duplicates A at 11:05 — A's state (expiry 10:10) was
      // evicted by the 10:50 watermark → RE-ADMITTED, the stated trade.
      // The base document stays dropped forever (anti-join, not state).
      batch(Seq((14L, "a fresh new document alpha", "2024-01-01 11:05:00"),
        (15L, "the base document one", "2024-01-01 11:05:00")), "append")
      q.processAllAvailable()
      assert(ids() == Set(10L, 13L, 14L), ids().toString)
    } finally q.stop()
  }

  test("sessionizeEvents: stream over file source == batch sessions") {
    import graft.operators.EventOps
    val src = tmp("sess_src")
    val base = Tables.events(spark, sfDir).filter(col("user_id") < 30)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    // one far-future sentinel per user closes every REAL session inline
    // (its own session stays open in state and is never emitted) — the
    // honest way to flush an event-time sessionizer at end-of-input
    val maxTs = base.agg(max(unix_micros(col("ts")))).first().getLong(0)
    val sentinels = base.select(col("user_id")).distinct()
      .select(col("user_id"),
        timestamp_micros(lit(maxTs + 86400L * 1000000L)).as("ts"),
        lit(999999999L).as("event_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"))
    base.unionByName(sentinels).coalesce(1) // one file → one micro-batch
      .write.mode("overwrite").parquet(src)

    val schema = spark.read.parquet(src).schema
    val q = StreamingOps.sessionizeStream(spark, src, schema)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val cols = Seq("user_id", "session_idx", "n_events", "session_start",
      "session_end", "duration_us", "total_value", "n_event_types")
    val streamed = spark.table("sess_stream")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val batch = EventOps.sessionizeOf(base,
        "user_id", "ts", "event_id", 1800L, "value")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("sessionizeEvents: event-time timeout closes an idle session across batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .withWatermark("ts", "30 minutes")
    val q = StreamingOps.sessionizeEvents(df)
      .writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      // batch 1: user 1's whole session (ends 10:10 → timeout at 10:40);
      // user 2's event at 12:00 pushes the watermark to 11:30 > 10:40
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (1L, ts("2024-01-01 10:10:00"), 2L, "click", 2.0),
        (2L, ts("2024-01-01 12:00:00"), 3L, "view", 0.5))
      // processAllAvailable drains the follow-up batch the engine
      // schedules once the watermark (11:30) passes user 1's timeout
      // (10:40): the session emits WITHOUT any closing event or
      // sentinel — the pure timeout path
      q.processAllAvailable()
      val afterB1 = spark.table("sess_timeout").collect()
      assert(afterB1.length == 1, afterB1.mkString(";"))
      // more data for user 2 merges into its open session: no new rows
      input.addData((2L, ts("2024-01-01 12:05:00"), 4L, "view", 0.5))
      q.processAllAvailable()
      val rows = spark.table("sess_timeout").collect()
      assert(rows.length == 1, rows.mkString(";"))
      val r = rows.head
      assert(r.getAs[Long]("user_id") == 1L)
      assert(r.getAs[Long]("n_events") == 2L)
      assert(r.getAs[Long]("duration_us") == 600000000L)
      assert(r.getAs[Double]("total_value") == 3.0)
      assert(r.getAs[Long]("n_event_types") == 2L)
    } finally q.stop()
  }

  test("sessionizeEvents: out-of-order events across batches extend or split, never merge wrongly") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    // generous watermark so in-watermark stragglers actually reach the
    // operator — the exact admission the 30-minute contract also allows
    val df = input.toDF()
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .withWatermark("ts", "10 hours")
    val q = StreamingOps.sessionizeEvents(df)
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      // open session: 10:00–10:10
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (1L, ts("2024-01-01 10:10:00"), 2L, "click", 2.0))
      q.processAllAvailable()
      // straggler within the gap BEFORE the start (09:45, 15 min < 30):
      // same session — start extends backwards, nothing emitted
      input.addData((1L, ts("2024-01-01 09:45:00"), 3L, "view", 4.0))
      q.processAllAvailable()
      assert(spark.table("sess_ooo").isEmpty)
      // straggler BEYOND the gap before the start (07:00): its own
      // earlier session, emitted closed with the open session's index;
      // the open session shifts to idx 2 (was: silently merged into the
      // open session with start never lowered — wrong duration/totals)
      input.addData((1L, ts("2024-01-01 07:00:00"), 4L, "early", 8.0))
      q.processAllAvailable()
      val early = spark.table("sess_ooo").collect()
      assert(early.length == 1, early.mkString(";"))
      assert(early.head.getAs[Long]("session_idx") == 1L)
      assert(early.head.getAs[Long]("n_events") == 1L)
      assert(early.head.getAs[Long]("duration_us") == 0L)
      assert(early.head.getAs[Double]("total_value") == 8.0)
      // flush: gap breach closes the (extended) open session as idx 2
      input.addData((1L, ts("2024-01-01 23:00:00"), 5L, "flush", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_ooo").collect()
        .map(r => r.getAs[Long]("session_idx") -> r).toMap
      assert(rows.size == 2, rows.toString)
      val s2 = rows(2L)
      assert(s2.getAs[Long]("n_events") == 3L)
      assert(s2.getAs[java.sql.Timestamp]("session_start") ==
        ts("2024-01-01 09:45:00"))
      assert(s2.getAs[Long]("duration_us") == 1500000000L) // 09:45 → 10:10
      assert(s2.getAs[Double]("total_value") == 7.0)
      assert(s2.getAs[Long]("n_event_types") == 2L)
    } finally q.stop()
  }

  test("dedupFirstSeen: stateful stream dedup == dropDuplicates, first kept") {
    import spark.implicits._
    import graft.functions.TextFunctions.contentHash
    val src = tmp("dedup_src")
    // duplicate content hashes across the doc corpus + injected dups
    Tables.documents(spark, sfDir).limit(200)
      .select(contentHash(col("text")).as("h"), $"doc_id")
      .union(Tables.documents(spark, sfDir).limit(50)
        .select(contentHash(col("text")).as("h"), $"doc_id" + 100000))
      .write.mode("overwrite").parquet(src)

    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[(String, Long)]
    val q = StreamingOps.dedupFirstSeen(stream.groupByKey(_._1))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("dedup_stream")
    val expectedKeys = spark.read.parquet(src)
      .select("h").distinct().count()
    assert(streamed.count() == expectedKeys) // exactly one row per key
    assert(streamed.select("_1").distinct().count() == expectedKeys)

    // batch mode agrees with dropDuplicates on the key column
    val batchDedup = StreamingOps.dedupFirstSeen(
      spark.read.parquet(src).as[(String, Long)].groupByKey(_._1))
    assert(batchDedup.count() == expectedKeys)
  }

  test("simhashPairsStream: streamed pairs ⊆ batch; near-dups and dup reps surface") {
    import graft.operators.TextOps
    val src = tmp("simhash_src")
    // real corpus slice + injected exact duplicates + a known near-dup
    // pair (the MassDupSpec deterministic collision texts)
    val nearA = "training data pipelines deduplicate documents using " +
      "minhash signatures over shingle sets for scalable similarity detection"
    import spark.implicits._
    val extra = Seq((900000L, nearA), (900001L, nearA + " exactly")).toDF("doc_id", "text")
    Tables.documents(spark, sfDir).limit(150).select($"doc_id", $"text")
      .union(Tables.documents(spark, sfDir).limit(30)
        .select($"doc_id" + 500000, $"text")) // exact dups, hamming 0
      .union(extra)
      .write.mode("overwrite").parquet(src)

    val batchDf = spark.read.parquet(src)
    val batch = TextOps.simhashPairsOf(batchDf, 12, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val stream = spark.readStream.schema(batchDf.schema).parquet(src)
    val q = StreamingOps.simhashPairsStream(stream)
      .writeStream.format("memory").queryName("simhash_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("simhash_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // flag-on-arrival contract: every streamed pair is a true batch pair
    // (subset — arrivals pair against one representative per signature,
    // not the full historical clique)
    assert(streamed.subsetOf(batch),
      s"not in batch: ${(streamed -- batch).take(5)}")
    assert(streamed.contains((900000L, 900001L, 5)))
    // every injected duplicate is flagged against its representative
    val dupPairs = streamed.filter(p => p._2 >= 500000L && p._3 == 0)
    assert(dupPairs.map(_._2) == (0 until 30).map(_ + 500000L).toSet, dupPairs)
  }

  test("simhashPairsStreamExactlyOnce: chained stateful dedup — one row per pair") {
    import spark.implicits._
    val src = tmp("simhash_once")
    // identical docs: every rep pair is emitted once PER MATCHING BAND
    // (4 bands for equal signatures) by the first stage; the pair-keyed
    // second stage must collapse that to exactly one row
    val text = "identical content for the exactly once chained dedup check"
    (0L until 15L).map(i => (i, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamingOps.simhashPairsStreamExactlyOnce(stream)
      .writeStream.format("memory").queryName("simhash_once")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("simhash_once")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == rows.distinct.length, "no pair twice")
    assert(rows.length == 14 && rows.forall(_._3 == 0),
      s"14 rep pairs exactly once, got ${rows.length}")
  }

  test("dedupFirstSeenTtl: idle pair state expires and re-emits; fresh state suppresses") {
    import spark.implicits._
    val src = tmp("simhash_ttl_src")
    val ckpt = tmp("simhash_ttl_ckpt")
    val sink = tmp("simhash_ttl_sink")
    val text = "identical content for the ttl expiry re-emission check"
    // same checkpoint + parquet sink across three AvailableNow restarts
    // = one logical unbounded stream delivered in three micro-batches
    // (the memory sink refuses checkpoint recovery)
    def run(rows: Seq[(Long, String)]): Seq[(Long, Long, Int)] = {
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
      val q = StreamingOps.simhashPairsStreamExactlyOnce(stream, pairTtlMs = 1L)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      spark.read.parquet(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }
    // batch 1: pair emitted exactly once (4 band copies collapsed by the
    // pair stage, even with the TTL variant)
    assert(run(Seq((0L, text), (1L, text))) === Seq((0L, 1L, 0)))
    // batch 2: unrelated doc triggers a batch in which the (0,1) state,
    // idle past the 1 ms TTL, times out and is removed — nothing new
    assert(run(Seq((50L, "completely unrelated subject matter " +
      "about orbital mechanics and spacecraft navigation")))
      === Seq((0L, 1L, 0)))
    // batch 3: doc 1 re-arrives; stage 1 re-flags it against tracked rep
    // 0 and the EXPIRED pair state re-admits it — the documented
    // at-least-once-across-idle-gaps contract of the bounded-state form
    assert(run(Seq((1L, text))).sorted === Seq((0L, 1L, 0), (0L, 1L, 0)))
  }

  test("simhashPairsStream: mass duplicates occupy ONE state slot, never the cap") {
    import spark.implicits._
    val src = tmp("simhash_cap")
    // 40 identical docs with maxBucket=1: per-distinct-signature state
    // means the duplicates all match the single tracked representative —
    // per-document state would enroll only the first doc and a cap this
    // small would also suppress any later distinct signature
    val text = "identical content repeated many times across this stream " +
      "to prove state is per distinct signature not per document"
    // one sorted file: every band group then fetches the same single map
    // output in file order, so all 4 bands enroll the SAME first-seen
    // representative — without this, shuffle fetch order may let bands
    // pick different reps and the single-star assertion below would be
    // flaky (round-3 ADVICE)
    (0L until 40L).map(i => (i, text)).toDF("doc_id", "text")
      .repartition(1).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamingOps.simhashPairsStream(stream, maxBucket = 1)
      .writeStream.format("memory").queryName("simhash_cap")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("simhash_cap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // all 39 non-representative docs flagged against ONE representative
    // (whichever arrived first in the shuffled micro-batch) at hamming 0
    assert(out.size == 39 && out.forall(_._3 == 0), out.take(5))
    val rep = (0L until 40L).find(r =>
      out == (0L until 40L).filter(_ != r).map(i =>
        (math.min(r, i), math.max(r, i), 0)).toSet)
    assert(rep.nonEmpty, s"no single representative explains ${out.take(5)}")
  }

  test("rangeJoinStream: stream-static attribution == batch range join, stateless") {
    import graft.operators.EventOps
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val src = tmp("rjoin_src")
    val sessions = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:30:00")),
      (1L, 2L, ts("2024-01-01 14:00:00"), ts("2024-01-01 14:10:00")),
      (2L, 1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
      .toDF("user_id", "session_idx", "session_start", "session_end")
    val purchases = Seq(
      (1L, ts("2024-01-01 10:45:00"), 100L), // inside 1/1 (multi-bucket)
      (1L, ts("2024-01-01 14:05:00"), 101L), // inside 1/2
      (1L, ts("2024-01-01 12:00:00"), 102L), // between sessions -> drop
      (2L, ts("2024-01-01 10:30:00"), 103L), // at end -> inclusive
      (3L, ts("2024-01-01 10:15:00"), 104L)) // no sessions -> drop
      .toDF("user_id", "ts", "event_id")
    purchases.coalesce(2).write.mode("overwrite").parquet(src)

    val batch = EventOps.rangeJoinOf(spark.read.parquet(src), sessions,
        Seq("user_id"), "ts", "session_start", "session_end", 3600L)
      .collect().map(_.toSeq).toSet

    val schema = spark.read.parquet(src).schema
    val streamed = StreamingOps.rangeJoinStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      sessions, Seq("user_id"), "ts", "session_start", "session_end", 3600L)
    // stateless: append mode with NO watermark must be accepted
    val q = streamed.writeStream.format("memory").queryName("rjoin_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rjoin_stream").collect().map(_.toSeq).toSet
      assert(got == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("rangeJoinStreamStream: both sides streaming == batch core; late interval drops") {
    import graft.operators.EventOps
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val ptsIn = MemoryStream[(Long, Timestamp, Long)]
    val ivsIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val streamed = StreamingOps.rangeJoinStreamStream(
      ptsIn.toDF().toDF("user_id", "ts", "event_id"),
      ivsIn.toDF().toDF("user_id", "session_start", "session_end", "session_idx"),
      Seq("user_id"), "ts", "session_start", "session_end",
      maxDurSec = 7200L, pointsDelay = "30 minutes",
      intervalsDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("rjoin_ss")
      .outputMode("append").start()
    try {
      // batch 1: one matching pair, one point past the interval end, and
      // a high-ts row on EACH side pushing the watermark to ~19:30
      ptsIn.addData(
        (1L, ts("2024-01-01 10:00:30"), 100L), // inside iv 1
        (1L, ts("2024-01-01 10:59:00"), 101L), // after iv 1 end -> no match
        (9L, ts("2024-01-01 20:00:00"), 199L)) // watermark push
      ivsIn.addData(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:45:00"), 1L),
        (8L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:01:00"), 9L))
      q.processAllAvailable()
      val afterB1 = spark.table("rjoin_ss").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("session_idx")))
      assert(afterB1.toSet == Set((100L, 1L)), afterB1.mkString(";"))
      // batch 2: an interval ~9.5 h LATE (start far behind the ~19:30
      // watermark) that WOULD contain point 100 — must produce nothing,
      // the matching point's state is provably evicted; an on-time pair
      // in the same batch keeps flowing
      ivsIn.addData(
        (1L, ts("2024-01-01 10:00:10"), ts("2024-01-01 10:30:00"), 2L), // late
        (2L, ts("2024-01-01 19:40:00"), ts("2024-01-01 19:50:00"), 3L))
      ptsIn.addData((2L, ts("2024-01-01 19:45:00"), 102L))
      q.processAllAvailable()
      val finalRows = spark.table("rjoin_ss").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("session_idx")))
      assert(finalRows.toSet == Set((100L, 1L), (102L, 3L)),
        finalRows.mkString(";"))
      // == the batch matched core over the NON-LATE rows (the late
      // interval is exactly what the watermark contract excludes)
      val batchPts = Seq(
        (1L, ts("2024-01-01 10:00:30"), 100L),
        (1L, ts("2024-01-01 10:59:00"), 101L),
        (9L, ts("2024-01-01 20:00:00"), 199L),
        (2L, ts("2024-01-01 19:45:00"), 102L))
        .toDF("user_id", "ts", "event_id")
      val batchIvs = Seq(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:45:00"), 1L),
        (8L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:01:00"), 9L),
        (2L, ts("2024-01-01 19:40:00"), ts("2024-01-01 19:50:00"), 3L))
        .toDF("user_id", "session_start", "session_end", "session_idx")
      val batch = EventOps.rangeJoinOf(batchPts, batchIvs, Seq("user_id"),
          "ts", "session_start", "session_end", 3600L)
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("session_idx")))
      assert(batch.toSet == finalRows.toSet && batch.nonEmpty)
    } finally q.stop()
  }

  test("intervalJoinStreamStream: both interval sets live == batch core; late side drops") {
    import graft.operators.EventOps
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val lIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val streamed = StreamingOps.intervalJoinStreamStream(
      lIn.toDF().toDF("user_id", "ls", "le", "l_id"),
      rIn.toDF().toDF("user_id", "rs", "re", "r_id"),
      Seq("user_id"), "ls", "le", "rs", "re",
      maxDurSec = 7200L, leftDelay = "30 minutes", rightDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("ivj_ss")
      .outputMode("append").start()
    try {
      // batch 1: one overlapping pair + a non-overlapping watermark
      // pusher on each side (distinct keys so the pushers never match)
      lIn.addData(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 10L),
        (7L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:10:00"), 79L))
      rIn.addData(
        (1L, ts("2024-01-01 10:30:00"), ts("2024-01-01 11:30:00"), 20L),
        (8L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:05:00"), 89L))
      q.processAllAvailable()
      def pairs() = spark.table("ivj_ss").collect()
        .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
      assert(pairs() == Set((10L, 20L)), pairs().mkString(";"))
      // batch 2: a LATE left interval (start far behind the ~19:30
      // watermark) that would overlap right 20 -> dropped; an on-time
      // pair keeps flowing
      lIn.addData(
        (1L, ts("2024-01-01 10:40:00"), ts("2024-01-01 10:50:00"), 11L), // late
        (2L, ts("2024-01-01 19:45:00"), ts("2024-01-01 20:00:00"), 12L))
      rIn.addData(
        (2L, ts("2024-01-01 19:40:00"), ts("2024-01-01 19:50:00"), 21L))
      q.processAllAvailable()
      assert(pairs() == Set((10L, 20L), (12L, 21L)), pairs().mkString(";"))
      // == the batch overlap join over the NON-LATE rows
      val batchL = Seq(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 10L),
        (7L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:10:00"), 79L),
        (2L, ts("2024-01-01 19:45:00"), ts("2024-01-01 20:00:00"), 12L))
        .toDF("user_id", "ls", "le", "l_id")
      val batchR = Seq(
        (1L, ts("2024-01-01 10:30:00"), ts("2024-01-01 11:30:00"), 20L),
        (8L, ts("2024-01-01 20:00:00"), ts("2024-01-01 20:05:00"), 89L),
        (2L, ts("2024-01-01 19:40:00"), ts("2024-01-01 19:50:00"), 21L))
        .toDF("user_id", "rs", "re", "r_id")
      val batch = EventOps.intervalJoinOf(batchL, batchR, Seq("user_id"),
          "ls", "le", "rs", "re", bucketSec = 3600L)
        .collect().map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
      assert(batch == pairs() && batch.nonEmpty)
    } finally q.stop()
  }

  test("intervalJoinStreamStream: a too-long interval fails loudly") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val lIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val streamed = StreamingOps.intervalJoinStreamStream(
      lIn.toDF().toDF("user_id", "ls", "le", "l_id"),
      rIn.toDF().toDF("user_id", "rs", "re", "r_id"),
      Seq("user_id"), "ls", "le", "rs", "re",
      maxDurSec = 3600L, leftDelay = "30 minutes", rightDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("ivj_ss_guard")
      .outputMode("append").start()
    try {
      rIn.addData( // 3 h long against a 1 h bound -> assert_true throws
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 13:00:00"), 1L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("maxDurSec")), e.toString)
    } finally q.stop()
  }

  test("rangeJoinStreamStream: an interval longer than maxDurSec fails loudly") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val ptsIn = MemoryStream[(Long, Timestamp, Long)]
    val ivsIn = MemoryStream[(Long, Timestamp, Timestamp, Long)]
    val streamed = StreamingOps.rangeJoinStreamStream(
      ptsIn.toDF().toDF("user_id", "ts", "event_id"),
      ivsIn.toDF().toDF("user_id", "session_start", "session_end", "session_idx"),
      Seq("user_id"), "ts", "session_start", "session_end",
      maxDurSec = 3600L, pointsDelay = "30 minutes",
      intervalsDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("rjoin_ss_guard")
      .outputMode("append").start()
    try {
      ivsIn.addData( // 2 h long against a 1 h bound -> assert_true throws
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"), 1L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("maxDurSec")), e.toString)
    } finally q.stop()
  }

  test("asofJoinStreamStream: matches finalize at the watermark; late ref cannot rewrite") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Long, Double)]
    val streamed = StreamingOps.asofJoinStreamStream(
      pIn.toDF().toDF("user_id", "ts", "event_id"),
      rIn.toDF().toDF("user_id", "ts", "event_id", "value"),
      probesDelay = "30 minutes", refsDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("asof_ss")
      .outputMode("append").start()
    def rows() = spark.table("asof_ss").collect().map(r =>
      r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Long]("ref_event_id")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("ref_value")).map(_.toDouble)))
      .toMap
    try {
      // batch 1: same-ts ref tie (larger id must win), a probe BEFORE
      // all refs (NULL match), and a watermark pusher on each side
      rIn.addData(
        (1L, ts("2024-01-01 10:00:00"), 500L, 5.0),
        (1L, ts("2024-01-01 10:00:00"), 501L, 7.0),
        (9L, ts("2024-01-01 20:00:00"), 599L, 1.0))
      pIn.addData(
        (1L, ts("2024-01-01 10:30:00"), 100L),
        (1L, ts("2024-01-01 09:00:00"), 101L),
        (8L, ts("2024-01-01 20:00:00"), 199L))
      q.processAllAvailable()
      // watermark ≈ 19:30: probes 100/101 are FINAL, 199 still pending
      val afterB1 = rows()
      assert(afterB1.keySet == Set(100L, 101L), afterB1.toString)
      assert(afterB1(100L) == ((Some(501L), Some(7.0)))) // tie -> max id
      assert(afterB1(101L) == ((None, None)))            // left semantics
      // batch 2: a LATE ref (10:15 — would beat 501 for probe 100) must
      // be dropped, never a retroactive rewrite; a fresh pair matches;
      // pushers advance the watermark past probe 199
      rIn.addData(
        (1L, ts("2024-01-01 10:15:00"), 502L, 9.0), // late -> dropped
        (2L, ts("2024-01-01 19:40:00"), 510L, 2.0),
        (9L, ts("2024-01-01 21:00:00"), 699L, 1.0))
      pIn.addData(
        (2L, ts("2024-01-01 19:45:00"), 102L),
        (8L, ts("2024-01-01 21:00:00"), 299L)) // pusher, stays pending
      q.processAllAvailable()
      val fin = rows()
      assert(fin.keySet == Set(100L, 101L, 199L, 102L), fin.toString)
      assert(fin(100L) == ((Some(501L), Some(7.0)))) // unchanged by 502
      assert(fin(199L) == ((None, None)))            // user 8 has no refs
      assert(fin(102L) == ((Some(510L), Some(2.0))))
      // == the batch as-of over the NON-LATE rows, restricted to the
      // finalized probes
      val batchProbes = Seq(
        (1L, ts("2024-01-01 10:30:00"), 100L),
        (1L, ts("2024-01-01 09:00:00"), 101L),
        (8L, ts("2024-01-01 20:00:00"), 199L),
        (2L, ts("2024-01-01 19:45:00"), 102L))
        .toDF("user_id", "ts", "event_id")
      val batchRefs = Seq(
        (1L, ts("2024-01-01 10:00:00"), 500L, 5.0),
        (1L, ts("2024-01-01 10:00:00"), 501L, 7.0),
        (9L, ts("2024-01-01 20:00:00"), 599L, 1.0),
        (2L, ts("2024-01-01 19:40:00"), 510L, 2.0),
        (9L, ts("2024-01-01 21:00:00"), 699L, 1.0))
        .toDF("user_id", "ts", "event_id", "value")
      val batch = graft.operators.EventOps.asofJoinOf(batchProbes, batchRefs,
          "user_id", "ts", "event_id", Seq("value"))
        .collect().map(r => r.getAs[Long]("event_id") ->
          (Option(r.getAs[java.lang.Long]("ref_event_id")).map(_.toLong),
            Option(r.getAs[java.lang.Double]("ref_value")).map(_.toDouble)))
        .toMap
      assert(batch == fin, s"batch $batch vs streamed $fin")
    } finally q.stop()
  }

  test("asofJoinStreamStream: pre-epoch input is dropped by Spark's stateful late filter (streaming domain is ts >= epoch)") {
    // Round-10 ADVICE investigation, pinned: under EventTimeTimeout,
    // FlatMapGroupsWithStateExec filters input rows older than the
    // current watermark BEFORE the user function runs, and the initial
    // watermark is raw 0 — so a pre-epoch probe can never be admitted
    // to state in the first place (the ADVICE's never-finalized
    // scenario cannot reach the function). This test pins that Spark-
    // level contract (numRowsDroppedByWatermark fires, state stays
    // empty, output stays empty — no hang, no partial emit) so a Spark
    // upgrade that changes the late-filter semantics is caught; the
    // wake-registration clamp in the operator keeps the timeout
    // invariant structural either way. Pre-epoch history is batch
    // asofJoinOf territory (PropertySpec pins its pre-epoch
    // correctness).
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Long, Double)]
    val streamed = StreamingOps.asofJoinStreamStream(
      pIn.toDF().toDF("user_id", "ts", "event_id"),
      rIn.toDF().toDF("user_id", "ts", "event_id", "value"),
      probesDelay = "30 minutes", refsDelay = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("asof_ss_preepoch")
      .outputMode("append").start()
    try {
      // ONLY pre-epoch events: the watermark tracker never goes below
      // its initial raw 0, so these are late on arrival
      rIn.addData((1L, ts("1969-12-30 00:00:00"), 500L, 5.0))
      pIn.addData((1L, ts("1969-12-31 00:00:00"), 100L))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(dropped >= 1, s"expected the late filter to fire, dropped=$dropped")
      assert(stateRows == 0, s"pre-epoch rows must not reach state: $stateRows")
      // a modern watermark later: the quiet key has nothing buffered,
      // so the tail stays silent (consistent with the drop) — and the
      // modern pair behaves normally
      pIn.addData((8L, ts("2024-01-01 12:00:00"), 199L))
      rIn.addData((9L, ts("2024-01-01 12:00:00"), 599L, 1.0))
      q.processAllAvailable()
      assert(spark.table("asof_ss_preepoch").isEmpty)
    } finally q.stop()
  }

  test("pqEncode: the literal-codebook encode runs unchanged on a stream") {
    import graft.operators.VectorOps
    val src = tmp("pq_stream")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).limit(200)
    emb.coalesce(2).write.mode("overwrite").parquet(src)
    // train batch-side (model state), encode the stream with the same
    // stateless projection
    val books = VectorOps.pqCodebooks(Tables.embeddings(spark, sfDir))
    val batch = VectorOps.pqEncode(spark.read.parquet(src), books)
      .collect().map(_.toSeq).toSet
    val schema = spark.read.parquet(src).schema
    val streamed = VectorOps.pqEncode(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src), books)
    assert(streamed.isStreaming)
    val q = streamed.writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pq_stream").collect().map(_.toSeq).toSet
      assert(got == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("bronzeCsvStream: AvailableNow incremental ingest with metadata") {
    val src = tmp("csv_stream")
    val sink = tmp("bronze_stream")
    val ckpt = tmp("ckpt")
    val header = "claim_id,member_id,provider_name,claim_amount,service_date"
    Files.writeString(java.nio.file.Paths.get(s"$src/b1.csv"),
      header + "\nC1,M1,P,10,2024-01-01\nC2,M2,P,20,2024-01-02\n")
    val schema = "claim_id STRING, member_id STRING, provider_name STRING, " +
      "claim_amount DOUBLE, service_date STRING"
    val sch = org.apache.spark.sql.types.StructType.fromDDL(schema)

    StreamingOps.bronzeCsvStream(spark, src, sch, sink, ckpt)
      .start().awaitTermination(120000)
    assert(spark.read.parquet(sink).count() == 2)

    // second micro-batch: ONLY the new file is processed (checkpointed
    // source offsets — the "process what arrived" contract)
    Files.writeString(java.nio.file.Paths.get(s"$src/b2.csv"),
      header + "\nC3,M3,P,30,2024-01-03\n")
    StreamingOps.bronzeCsvStream(spark, src, sch, sink, ckpt)
      .start().awaitTermination(120000)
    val out = spark.read.parquet(sink)
    assert(out.count() == 3)
    assert(out.columns.contains("ingestion_timestamp") &&
      out.columns.contains("batch_id") && out.columns.contains("source_file"))
  }

  test("userHllRegistersStream: streamed registers == batch; bounded state") {
    import graft.operators.SketchOps
    val src = tmp("hll_src")
    Tables.events(spark, sfDir).limit(600)
      .write.mode("overwrite").parquet(src)
    val batch = SketchOps.userWindowHllRegisters(spark.read.parquet(src))
      .collect().map(_.toSeq).toSet
    val schema = spark.read.parquet(src).schema
    val q = StreamingOps.userHllRegistersStream(spark, src, schema)
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hll_regs").collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
    // the bounded-state contract: <= m registers per window
    val perWindow = spark.table("hll_regs").groupBy(col("window_start"))
      .count().collect().map(_.getLong(1))
    assert(perWindow.forall(_ <= SketchOps.HllM))
  }
}
