package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.SnapshotTable

/** The STREAMING change feed (graft-snapshot-cdc, round 15). Pins:
  *  - a drained AvailableNow stream equals the batch feed
  *    ([[SnapshotTable.changeRowsBetween]]) row-for-row on the same
  *    window — inserts as visible at the end version, deletes as exact
  *    pre-images
  *  - `startVersion` starts the feed after a bootstrap snapshot
  *  - `_commit_version` stamps each marker with its commit
  *  - a second run on the same checkpoint emits ONLY the new window,
  *    including the retraction of a row the first run emitted
  *  - a rewrite commit in range fails the stream loudly (no silent
  *    wrong feed), same contract as the batch feed
  */
class SnapshotCdcSpec extends SparkSpec {

  import spark.implicits._

  private val base = "target/test_snapshot_cdc"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

  private def rows(ks: Seq[String], batch: String, amt: Double) =
    ks.map(k => (k, batch, amt, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")

  private def drain(tableDir: String, out: String, ckpt: String,
      startVersion: Int = 0): DataFrame = {
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", tableDir)
      .option("startVersion", startVersion.toString).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
  }

  private def canon(df: DataFrame): Seq[(String, String, Double, String)] =
    df.select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("_change_type"))
      .as[(String, String, Double, String)].collect().sorted.toSeq

  test("drained stream == batch changeRowsBetween on the same window") {
    val dir = s"$base/equal"
    wipe(dir); wipe(s"$base/equal_io")
    SnapshotTable.append(spark, dir, rows(Seq("A", "B", "C"), "b1", 1.0))
    SnapshotTable.mergeMor(spark, dir, rows(Seq("B", "D"), "b2", 2.0))
    SnapshotTable.deleteWhere(spark, dir,
      col("claim_id") === "C") // positional purge
    val streamed = drain(dir, s"$base/equal_io/out", s"$base/equal_io/ck")
    val batch = SnapshotTable.changeRowsBetween(spark, dir, 0,
      SnapshotTable.latestVersion(spark, dir))
    assert(canon(streamed) == canon(batch))
    // spot-check the semantics: B's old row and C's row are deleted
    // pre-images; B/D's new rows and A's row are inserts
    val byType = canon(streamed).groupBy(_._4)
      .map { case (t, rs) => t -> rs.map(r => (r._1, r._2)).toSet }
    assert(byType("delete") == Set(("B", "b1"), ("C", "b1")))
    assert(byType("insert") == Set(("A", "b1"), ("B", "b2"), ("D", "b2")))
  }

  test("_commit_version stamps each marker with its commit") {
    val dir = s"$base/stamp"
    wipe(dir); wipe(s"$base/stamp_io")
    SnapshotTable.append(spark, dir, rows(Seq("A", "B"), "b1", 1.0)) // v1
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A").toDF("claim_id")) // v2
    SnapshotTable.append(spark, dir, rows(Seq("E"), "b3", 3.0)) // v3
    val got = drain(dir, s"$base/stamp_io/out", s"$base/stamp_io/ck")
      .select(col("claim_id"), col("_change_type"),
        col("_commit_version"))
      .as[(String, String, Int)].collect().toSet
    // A was inserted AND deleted in-window: its insert nets out (as
    // visible at the end version — the batch feed's exact contract)
    // and only the delete pre-image surfaces
    assert(got == Set(("B", "insert", 1),
      ("A", "delete", 2), ("E", "insert", 3)))
  }

  test("startVersion skips the bootstrap snapshot") {
    val dir = s"$base/startv"
    wipe(dir); wipe(s"$base/startv_io")
    SnapshotTable.append(spark, dir, rows(Seq("A", "B"), "b1", 1.0)) // v1
    SnapshotTable.append(spark, dir, rows(Seq("C"), "b2", 2.0)) // v2
    val got = drain(dir, s"$base/startv_io/out", s"$base/startv_io/ck",
      startVersion = 1)
    assert(canon(got) == Seq(("C", "b2", 2.0, "insert")))
  }

  test("a second run on the same checkpoint emits only the new window, including retractions") {
    val dir = s"$base/resume"
    val io = s"$base/resume_io"
    wipe(dir); wipe(io)
    SnapshotTable.append(spark, dir, rows(Seq("A", "B"), "b1", 1.0))
    val first = drain(dir, s"$io/out", s"$io/ck")
    assert(canon(first).map(_._4) == Seq("insert", "insert"))
    // now delete a row the first run already emitted, and add one
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A").toDF("claim_id"))
    SnapshotTable.append(spark, dir, rows(Seq("C"), "b2", 2.0))
    drain(dir, s"$io/out", s"$io/ck") // resumes from the checkpoint
    val all = canon(spark.read.parquet(s"$io/out"))
    assert(all == Seq(("A", "b1", 1.0, "delete"), ("A", "b1", 1.0, "insert"),
      ("B", "b1", 1.0, "insert"), ("C", "b2", 2.0, "insert")))
  }

  private def content(dir: String): Set[(String, String, Double)] =
    SnapshotTable.read(spark, dir)
      .select(col("claim_id"), col("batch_id"), col("claim_amount"))
      .as[(String, String, Double)].collect().toSet

  test("applyChangeFeed replicates a window exactly and replays converge") {
    val src = s"$base/repl_src"
    val mir = s"$base/repl_mir"
    wipe(src); wipe(mir)
    SnapshotTable.append(spark, src, rows(Seq("A", "B", "C"), "b1", 1.0))
    // bootstrap the mirror from the v1 snapshot
    SnapshotTable.append(spark, mir, SnapshotTable.read(spark, src, Some(1)))
    SnapshotTable.mergeMor(spark, src, rows(Seq("B", "D"), "b2", 2.0))
    SnapshotTable.deleteWhere(spark, src, col("claim_id") === "C")
    val feed = SnapshotTable.changeRowsBetween(spark, src, 1,
      SnapshotTable.latestVersion(spark, src))
    assert(SnapshotTable.applyChangeFeed(spark, mir, feed, key = "claim_id").nonEmpty)
    assert(content(mir) == content(src))
    assert(content(mir) == Set(("A", "b1", 1.0), ("B", "b2", 2.0),
      ("D", "b2", 2.0)))
    // replaying the SAME window converges (at-least-once delivery safe)
    assert(SnapshotTable.applyChangeFeed(spark, mir, feed, key = "claim_id").nonEmpty)
    assert(content(mir) == content(src))
  }

  test("applyChangeFeed: delete-only window erases; empty window is a no-op") {
    val mir = s"$base/delonly"
    wipe(mir)
    SnapshotTable.append(spark, mir, rows(Seq("A", "B"), "b1", 1.0))
    val delFeed = rows(Seq("A"), "b1", 1.0)
      .withColumn("_change_type", lit("delete"))
    assert(SnapshotTable.applyChangeFeed(spark, mir, delFeed, key = "claim_id").nonEmpty)
    assert(content(mir) == Set(("B", "b1", 1.0)))
    val v = SnapshotTable.latestVersion(spark, mir)
    assert(SnapshotTable.applyChangeFeed(spark, mir,
      delFeed.limit(0), key = "claim_id").isEmpty)
    assert(SnapshotTable.latestVersion(spark, mir) == v,
      "an empty window must not commit")
  }

  test("applyChangeFeed keeps only the latest _commit_version per key") {
    val mir = s"$base/multiv"
    wipe(mir)
    SnapshotTable.append(spark, mir, rows(Seq("A"), "b1", 1.0))
    val feed = rows(Seq("A"), "b2", 2.0)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(2))
      .unionByName(rows(Seq("A"), "b3", 3.0)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(3)))
    assert(SnapshotTable.applyChangeFeed(spark, mir, feed, key = "claim_id").nonEmpty)
    assert(content(mir) == Set(("A", "b3", 3.0)),
      "the later commit's image must win")
  }

  test("applyChangeFeed rejects a _change_type other than insert/delete before any write, leaking no cache") {
    val mir = s"$base/badtype"
    wipe(mir)
    SnapshotTable.append(spark, mir, rows(Seq("A", "B"), "b1", 1.0))
    val v = SnapshotTable.latestVersion(spark, mir)
    def tree = {
      def walk(f: File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(new File(mir)).toSet
    }
    val filesBefore = tree
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val good = rows(Seq("B"), "b2", 2.0)
      .withColumn("_change_type", lit("insert"))
    Seq(lit("update_preimage") -> "'update_preimage'",
        lit(null).cast("string") -> "null").foreach { case (ct, shown) =>
      val feed = good.unionByName(rows(Seq("A"), "b2", 2.0)
        .withColumn("_change_type", ct))
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.applyChangeFeed(spark, mir, feed, key = "claim_id")
      }
      assert(e.getMessage.contains(s"_change_type $shown"), e.getMessage)
      assert(SnapshotTable.latestVersion(spark, mir) == v,
        "a rejected feed must not commit")
      assert(tree == filesBefore, "a rejected feed must stage nothing")
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
        "the feed's own cache must be released on rejection")
    }
    assert(content(mir) == Set(("A", "b1", 1.0), ("B", "b1", 1.0)))
  }

  test("graft-snapshot drain == graft-snapshot-cdc insert arm over a row-monotone history") {
    val dir = s"$base/formats"
    val io = s"$base/formats_io"
    wipe(dir); wipe(io)
    SnapshotTable.append(spark, dir,
      rows(Seq("A", "B", "C", "D"), "b1", 1.0)) // v1
    SnapshotTable.mergeMor(spark, dir, rows(Seq("B", "E"), "b2", 2.0))
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A").toDF("claim_id"))
    SnapshotTable.deleteWhere(spark, dir, col("claim_id") === "E")
    SnapshotTable.append(spark, dir, rows(Seq("F"), "b3", 3.0))
    val q = spark.readStream.format("graft-snapshot")
      .option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", s"$io/append").option("checkpointLocation",
        s"$io/append_ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val appended = spark.read.parquet(s"$io/append")
    val inserts = drain(dir, s"$io/cdc", s"$io/cdc_ck")
      .filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version")
      .select(appended.columns.map(col): _*)
    assert(appended.count() == 4) // C, D, B's restatement, F
    assert(appended.count() == inserts.count())
    assert(appended.exceptAll(inserts).isEmpty &&
      inserts.exceptAll(appended).isEmpty)
  }

  test("maxVersionsPerBatch paces the drain into capped micro-batches") {
    val dir = s"$base/paced"
    val io = s"$base/paced_io"
    wipe(dir); wipe(io)
    SnapshotTable.append(spark, dir, rows(Seq("A"), "b1", 1.0))
    SnapshotTable.append(spark, dir, rows(Seq("B"), "b2", 2.0))
    SnapshotTable.append(spark, dir, rows(Seq("C"), "b3", 3.0))
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", dir).option("maxVersionsPerBatch", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$io/out").option("checkpointLocation", s"$io/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the drain still reaches the pinned target — in one-version steps
    val got = canon(spark.read.parquet(s"$io/out"))
    assert(got == Seq(("A", "b1", 1.0, "insert"), ("B", "b2", 2.0, "insert"),
      ("C", "b3", 3.0, "insert")))
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3,
      s"3 commits at cap 1 must take >= 3 data batches, took $batches")
  }

  test("a rewrite commit in range fails the stream loudly") {
    val dir = s"$base/rewrite"
    wipe(dir); wipe(s"$base/rewrite_io")
    SnapshotTable.append(spark, dir, rows(Seq("A", "B"), "b1", 1.0))
    SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1))))
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", s"$base/rewrite_io/out")
      .option("checkpointLocation", s"$base/rewrite_io/ck")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q.awaitTermination() }
    assert(e.getMessage.contains("no row-level delta") ||
      Option(e.getCause).exists(_.getMessage.contains("row-level")))
  }

  test("a bulk erasure beyond the embed budget streams row-level via the spilled positions cache") {
    import graft.sources.{SnapshotInputPartition, SnapshotMicroBatchStream, SnapshotOffset, SnapshotStreamOptions}
    val dir = s"$base/bulk"
    val io = s"$base/bulk_io"
    wipe(dir); wipe(io)
    SnapshotTable.append(spark, dir,
      rows((1 to 40).map(i => f"K$i%02d"), "b1", 1.0)) // v1
    SnapshotTable.deleteKeysMor(spark, dir,
      (1 to 25).map(i => f"K$i%02d").toDF("claim_id")) // v2: 25 pre-images
    // plan-level pin, budget 3 << 25: driver embeds NOTHING — delete
    // slices carry cache refs only, so driver state is O(files)
    val full = org.apache.spark.sql.types.StructType(
      SnapshotTable.tableSchema(spark, dir).get.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    val stream = new SnapshotMicroBatchStream(
      SnapshotStreamOptions(dir, changeFeed = true, preImageEmbedMax = 3),
      full, full, checkpointLocation = Some(s"$io/plan_ck"))
    val parts = stream.planInputPartitions(SnapshotOffset(0),
      SnapshotOffset(2))
    val slices = parts
      .flatMap(_.asInstanceOf[SnapshotInputPartition].slices)
    val dels = slices.filter(_.changeType == "delete")
    assert(dels.nonEmpty)
    assert(dels.forall(s => s.positions.isEmpty && s.posRefs.nonEmpty),
      "spilled delete slices must embed zero driver positions")
    // end-to-end with the same tiny budget: the drained stream still
    // equals the batch feed row-for-row — no pacing, no refusal
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", dir).option("preImageEmbedMax", "3").load()
      .writeStream.format("parquet")
      .option("path", s"$io/out").option("checkpointLocation", s"$io/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$io/out")
    val batch = SnapshotTable.changeRowsBetween(spark, dir, 0, 2)
    assert(canon(streamed) == canon(batch))
    assert(canon(streamed).count(_._4 == "delete") == 25)
    // the spill cache's lifecycle is the stream's: gone after stop
    val cacheRoot = new File(s"$io/ck/sources/0/graft_cdc_pre")
    assert(!cacheRoot.exists() ||
      cacheRoot.listFiles().forall(!_.getName.startsWith("v")),
      "committed batches' spill dirs must be cleaned up")
  }

  test("endVersion caps the drained feed at the named commit") {
    val dir = s"$base/endv"
    wipe(dir); wipe(s"$base/endv_io")
    SnapshotTable.append(spark, dir, rows(Seq("A"), "b1", 1.0)) // v1
    SnapshotTable.append(spark, dir, rows(Seq("B"), "b2", 2.0)) // v2
    SnapshotTable.append(spark, dir, rows(Seq("C"), "b3", 3.0)) // v3
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", dir).option("endVersion", "2").load()
      .writeStream.format("parquet")
      .option("path", s"$base/endv_io/out")
      .option("checkpointLocation", s"$base/endv_io/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(canon(spark.read.parquet(s"$base/endv_io/out")) ==
      Seq(("A", "b1", 1.0, "insert"), ("B", "b2", 2.0, "insert")),
      "v3's insert must stay outside the capped feed")
  }

  test("followAvailableNow converges the mirror across a mid-history rewrite") {
    import SnapshotTable._
    val dir = s"$base/follow_src"
    val mir = s"$base/follow_mir"
    val work = s"$base/follow_work"
    wipe(dir); wipe(mir); wipe(work)
    // v1 bootstrap in two partitions; v2 append X in P1; v3 compaction
    // of P2 (the rewrite a live stream cannot cross); v4 delete X;
    // v5 append D — markers land on BOTH sides of the rewrite
    append(spark, dir, rows(Seq("A", "B"), "b1", 1.0)
      .unionByName(rows(Seq("K"), "b1", 1.0).withColumn("service_month",
        lit(2))))
    append(spark, dir, rows(Seq("X"), "b2", 2.0)) // v2
    compactPartitions(spark, dir, Seq((Some(2000), Some(2)))) // v3
    deleteKeysMor(spark, dir, Seq("X").toDF("claim_id")) // v4
    append(spark, dir, rows(Seq("D"), "b5", 5.0)) // v5
    append(spark, mir, read(spark, dir, Some(1)))
    val caught = followAvailableNow(spark, dir, mir, key = "claim_id",
      workDir = work, fromVersion = 1)
    assert(caught == 5)
    assert(content(mir) == content(dir))
    assert(!content(mir).exists(_._1 == "X"))
    // idempotent re-drive: legs drain empty, content unchanged
    assert(followAvailableNow(spark, dir, mir, key = "claim_id",
      workDir = work, fromVersion = 1) == 5)
    assert(content(mir) == content(dir))
  }

  test("changeRowsOrRecompute: rows-only without rewrites; rows+recompute across one; loud when unhomed") {
    import SnapshotTable._
    val dir = s"$base/degradable"
    wipe(dir)
    append(spark, dir, rows(Seq("A", "B"), "b1", 1.0)) // v1
    append(spark, dir, rows(Seq("C"), "b2", 2.0)) // v2
    // no rewrite in range: pure row feed, no recompute arm
    val clean = changeRowsOrRecompute(spark, dir, 1, 2)
    assert(clean.recomputeParts.isEmpty && clean.recompute.isEmpty)
    assert(clean.rows.get.filter(col("_change_type") === "insert")
      .count() == 1)
    // traffic spanning a compaction: v3 delete-mor, v4 compact, v5 append
    deleteKeysMor(spark, dir, Seq("A").toDF("claim_id")) // v3
    compactPartitions(spark, dir, Seq((Some(2000), Some(1)))) // v4
    append(spark, dir, rows(Seq("D"), "b3", 3.0)) // v5
    val cs = changeRowsOrRecompute(spark, dir, 1, 5)
    assert(cs.recomputeParts == Seq((Some(2000), Some(1))))
    // the row arm carries the sub-ranges' markers (C's insert + A's
    // delete pre-image before the rewrite; D's insert after it)
    val byType = cs.rows.get.groupBy(col("_change_type")).count()
      .as[(String, Long)].collect().toMap
    assert(byType.getOrElse("insert", 0L) >= 2 &&
      byType.getOrElse("delete", 0L) >= 1, s"markers: $byType")
    // the recompute slice is the partition's content at v5
    assert(cs.recompute.get.select("claim_id").as[String].collect()
      .sorted.toSeq == Seq("B", "C", "D"))
    // applying rows then recompute converges a v1-bootstrapped mirror
    val mirror = s"$base/degradable_mirror"
    wipe(mirror)
    append(spark, mirror, read(spark, dir, Some(1)))
    cs.rows.foreach(r => applyChangeFeed(spark, mirror, r,
      key = "claim_id"))
    cs.recompute.foreach(rc =>
      overwritePartitions(spark, mirror, rc, Some(cs.recomputeParts)))
    assert(read(spark, mirror).select("claim_id").as[String].collect()
      .sorted.toSeq ==
      read(spark, dir).select("claim_id").as[String].collect()
        .sorted.toSeq)
    // a rewrite touching UNPARTITIONED files cannot be recomputed by
    // partition — loud, never silently incomplete
    val dim = s"$base/degradable_dim"
    wipe(dim)
    append(spark, dim, Seq((1L, "x")).toDF("dim_id", "name")) // v1
    append(spark, dim, Seq((2L, "y")).toDF("dim_id", "name")) // v2
    // v3: a COW overwrite commit whose file churn has no partition home
    overwritePartitions(spark, dim,
      Seq((1L, "x"), (2L, "y")).toDF("dim_id", "name"), Some(Nil))
    val e = intercept[UnsupportedOperationException] {
      changeRowsOrRecompute(spark, dim, 1, 3)
    }
    assert(e.getMessage.contains("outside the"))
  }
}
