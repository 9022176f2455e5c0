package graft

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.SnapshotTable

/** Pins for the snapshot table as a NATIVE streaming source
  * (graft-snapshot, round-12 plan #4): offsets are snapshot versions,
  * micro-batches are manifest diffs, so the stream inherits the
  * table's isolation —
  *
  *  - streamed rows == the batch read (two-append table);
  *  - an IN-FLIGHT uncommitted write (files moved into the tree, root
  *    never published) is NEVER read — the raw file-listing source
  *    cannot make this promise;
  *  - a checkpointed restart resumes at the next unseen commit and
  *    drains exactly the newly committed files;
  *  - column pruning reaches the parquet scan (id-only read works and
  *    agrees with batch);
  *  - a live merge-on-read delete inside the streamed range is APPLIED
  *    (round-15): the backfill emits exactly the merged content —
  *    equality deletes, positional (deleteWhere) deletes, and a full
  *    mergeMor upsert all compose; deletes landing AFTER rows were
  *    streamed are not retracted (append streams don't un-emit);
  *  - splits decode VECTORIZED (ColumnarBatch) when the schema
  *    supports it; a MoR-reached split falls back to the row path.
  */
class SnapshotSourceSpec extends SparkSpec {

  import spark.implicits._

  private val base = "target/test_snapshot_source"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

  private def rows(n: Int, month: Int, batch: String) =
    (0 until n).map(i => (s"K$month-$i", batch, i * 1.0, 2000, month))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")

  private def drain(tableDir: String, out: String, ckpt: String,
      selectCols: Seq[String] = Nil): Unit = {
    val src = spark.readStream.format("graft-snapshot")
      .option("path", tableDir).load()
    val projected = if (selectCols.isEmpty) src
      else src.select(selectCols.map(col): _*)
    val q = projected.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def sink(out: String): DataFrame = spark.read.parquet(out)

  test("streamed == batch: two appends drain completely, partition columns recovered from the path") {
    val dir = s"$base/basic"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(6, 1, "b1"))
    SnapshotTable.append(spark, t, rows(4, 2, "b2"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    val streamed = sink(s"$dir/out")
      .select("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month").collect().map(_.toSeq).toSet
    val batch = SnapshotTable.read(spark, t)
      .select("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month").collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.size == 10)
  }

  test("an in-flight uncommitted write is never read; the same rows COMMITTED then flow") {
    val dir = s"$base/inflight"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(5, 1, "b1"))
    // simulate a writer mid-commit: data files land in the table tree
    // (post staging-move) but the root CAS never happened
    val orphanSrc = s"$dir/orphan_src"
    rows(3, 1, "ghost").drop("service_year", "service_month")
      .coalesce(1).write.parquet(orphanSrc)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new File(orphanSrc).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new Path(s"$t/service_year=2000/service_month=1/" +
      "part-orphan-in-flight.snappy.parquet")
    assert(fs.rename(new Path(part.getAbsolutePath), dst))
    drain(t, s"$dir/out", s"$dir/ckpt")
    val streamed = sink(s"$dir/out")
    assert(streamed.count() == 5, "uncommitted files must be invisible")
    assert(streamed.filter(col("batch_id") === "ghost").isEmpty)
    // commit the same rows properly → the checkpointed stream picks up
    // EXACTLY the committed files on the next drain
    SnapshotTable.append(spark, t, rows(3, 1, "ghost"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    assert(sink(s"$dir/out").count() == 8)
    assert(sink(s"$dir/out").filter(col("batch_id") === "ghost")
      .count() == 3)
  }

  test("checkpointed resume: a second drain processes only commits after the stored offset") {
    val dir = s"$base/resume"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(6, 1, "b1"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    assert(sink(s"$dir/out").count() == 6)
    SnapshotTable.append(spark, t, rows(2, 2, "b2"))
    SnapshotTable.append(spark, t, rows(3, 3, "b3"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    val all = sink(s"$dir/out")
    assert(all.count() == 11, "resume must add exactly the new commits")
    // no duplication of the first batch
    assert(all.filter(col("batch_id") === "b1").count() == 6)
  }

  test("column pruning: an id-only stream works and agrees with batch") {
    val dir = s"$base/prune"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(7, 1, "b1"))
    drain(t, s"$dir/out", s"$dir/ckpt",
      selectCols = Seq("claim_id", "service_month"))
    val streamed = sink(s"$dir/out").collect().map(_.toSeq).toSet
    val batch = SnapshotTable.read(spark, t)
      .select("claim_id", "service_month").collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.size == 7)
  }

  test("bin-packing: a many-small-file batch plans into few input splits, every file covered exactly once") {
    import graft.sources.{SnapshotInputPartition, SnapshotMicroBatchStream, SnapshotOffset, SnapshotStreamOptions}
    val dir = s"$base/binpack"
    wipe(dir)
    val t = s"$dir/t"
    // 24 tiny files (8 appends x 3-way split months)
    (1 to 8).foreach(i => SnapshotTable.append(spark, t,
      rows(3, 1 + (i % 3), s"b$i").repartition(1)))
    val stream = new SnapshotMicroBatchStream(
      SnapshotStreamOptions(t, changeFeed = false),
      SnapshotTable.tableSchema(spark, t).get,
      SnapshotTable.tableSchema(spark, t).get)
    val splits = stream.planInputPartitions(SnapshotOffset(0),
      SnapshotOffset(SnapshotTable.latestVersion(spark, t)))
      .map(_.asInstanceOf[SnapshotInputPartition])
    val nFiles = SnapshotTable.manifest(spark, t,
      SnapshotTable.latestVersion(spark, t)).files.size
    assert(splits.map(_.slices.size).sum == nFiles,
      "every file exactly once across splits")
    assert(splits.flatMap(_.slices.map(_.absPath)).distinct.length
      == nFiles)
    assert(splits.length < nFiles,
      s"tiny files must pack: ${splits.length} splits for $nFiles files")
    // and the packed stream still reads everything
    drain(t, s"$dir/out", s"$dir/ckpt")
    assert(sink(s"$dir/out").count() == SnapshotTable.read(spark, t).count())
  }

  test("maxVersionsPerBatch paces a backfill into capped micro-batches that still drain fully") {
    val dir = s"$base/paced"
    val io = s"$base/paced_io"
    wipe(dir); wipe(io)
    SnapshotTable.append(spark, dir, rows(2, 1, "b1"))
    SnapshotTable.append(spark, dir, rows(2, 2, "b2"))
    SnapshotTable.append(spark, dir, rows(2, 3, "b3"))
    val q = spark.readStream.format("graft-snapshot")
      .option("path", dir).option("maxVersionsPerBatch", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$io/out").option("checkpointLocation", s"$io/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(sink(s"$io/out").count() == 6, "the capped drain must complete")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3,
      s"3 commits at cap 1 must take >= 3 data batches, took $batches")
  }

  test("a live merge-on-read delete in the streamed range is APPLIED: the backfill emits exactly the merged content") {
    val dir = s"$base/mor"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(6, 1, "b1"),
      statsColumns = Seq("claim_id"))
    SnapshotTable.deleteKeysMor(spark, t, Seq("K1-2").toDF("claim_id"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    val streamed = sink(s"$dir/out")
    assert(streamed.count() == 5, "the equality delete must be applied")
    assert(streamed.filter(col("claim_id") === "K1-2").isEmpty)
    // and after compaction folds the delete, a fresh backfill agrees
    SnapshotTable.compactPartitions(spark, t, Seq((Some(2000), Some(1))))
    drain(t, s"$dir/out2", s"$dir/ckpt2")
    assert(sink(s"$dir/out2").count() == 5)
  }

  test("a mergeMor-fed table streams its merged content; positional (deleteWhere) deletes compose too") {
    val dir = s"$base/mor_merge"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(6, 1, "b1"),
      statsColumns = Seq("claim_id"))
    // an upsert restating one key + inserting a new one, then a
    // predicate (DV) delete — a CDC-consumer's worst case pre-round-15
    val upd = Seq(("K1-2", "b9", 999.0, 2000, 1),
        ("K1-new", "b9", 7.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    SnapshotTable.mergeMor(spark, t, upd)
    SnapshotTable.deleteWhere(spark, t, col("claim_id") === "K1-4")
    drain(t, s"$dir/out", s"$dir/ckpt")
    val streamed = sink(s"$dir/out")
      .select("claim_id", "batch_id", "claim_amount")
      .collect().map(_.toSeq).toSet
    val batch = SnapshotTable.read(spark, t)
      .select("claim_id", "batch_id", "claim_amount")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "backfill must equal the merged batch read")
    assert(streamed.size == 6) // 6 - old K1-2 + new K1-2 + K1-new - K1-4
    // deletes landing AFTER rows were streamed are NOT retracted
    // (append streams don't un-emit) and add no batch of their own
    SnapshotTable.deleteKeysMor(spark, t, Seq("K1-0").toDF("claim_id"))
    drain(t, s"$dir/out", s"$dir/ckpt")
    assert(sink(s"$dir/out").count() == 6,
      "a files-less delete commit must not re-emit or retract")
  }

  test("vectorized decode: clean splits read ColumnarBatch; a MoR-reached split falls back to rows — same content") {
    import graft.sources.{SnapshotInputPartition, SnapshotMicroBatchStream, SnapshotOffset, SnapshotStreamOptions}
    val dir = s"$base/columnar"
    wipe(dir)
    val t = s"$dir/t"
    SnapshotTable.append(spark, t, rows(6, 1, "b1"),
      statsColumns = Seq("claim_id"))
    val schema = SnapshotTable.tableSchema(spark, t).get
    val stream = new SnapshotMicroBatchStream(
      SnapshotStreamOptions(t, changeFeed = false), schema, schema)
    val splits = stream.planInputPartitions(SnapshotOffset(0),
      SnapshotOffset(SnapshotTable.latestVersion(spark, t)))
    val factory = stream.createReaderFactory()
    assert(splits.forall(factory.supportColumnarReads),
      "an all-atomic schema with no reaching delete must read columnar")
    val nCols = schema.fields.length
    val rowsRead = splits.map { p =>
      val r = factory.createColumnarReader(p)
      var n = 0L
      while (r.next()) {
        val b = r.get()
        assert(b.numCols() == nCols)
        n += b.numRows()
      }
      r.close(); n
    }.sum
    assert(rowsRead == 6L, s"columnar decode must yield all rows, got $rowsRead")
    // a reaching delete forces the affected split onto the row path
    SnapshotTable.deleteKeysMor(spark, t, Seq("K1-2").toDF("claim_id"))
    val stream2 = new SnapshotMicroBatchStream(
      SnapshotStreamOptions(t, changeFeed = false), schema, schema)
    val splits2 = stream2.planInputPartitions(SnapshotOffset(0),
      SnapshotOffset(SnapshotTable.latestVersion(spark, t)))
    val factory2 = stream2.createReaderFactory()
    val reached = splits2.filter(p =>
      p.asInstanceOf[SnapshotInputPartition].slices.exists(_.positions.nonEmpty))
    assert(reached.nonEmpty, "the delete must reach some split")
    assert(reached.forall(p => !factory2.supportColumnarReads(p)),
      "MoR-reached splits must decode row-based")
  }
}
