package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** How live merge-on-read deletes apply, and what maintenance counts:
  *  - a pruned read plans and runs in a constant number of Spark jobs
  *    however many delete refs are live (small sets enter the plan as
  *    literals read on the driver);
  *  - Iceberg's sequence rule: a key deleted then re-inserted survives,
  *    null keys survive, positional and equality deletes reaching one
  *    file both apply, and a sidecar whose key type differs from the
  *    column's (as writers before the cast wrote them) still reads;
  *  - an insert-only change feed of new keys commits no delete ref;
  *  - the Bloom refresh writes a delta sidecar, folding by size;
  *  - wiring the fast local file system never closes the shared one.
  */
class MorDeleteApplySpec extends SparkSpec {

  import spark.implicits._
  import SnapshotTable._

  private val base = "target/test_mor_delete_apply"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

  private def claims(rows: Seq[(String, String, Double, Int, Int)]) =
    rows.toDF("claim_id", "batch_id", "claim_amount", "service_year",
      "service_month")

  /** `n` claims per month over `months` months, one file per month. */
  private def monthly(dir: String, months: Int, n: Int): Unit =
    append(spark, dir, claims(for {
      m <- 0 until months; i <- 0 until n
    } yield (f"K$m%02d-$i%03d", "b0", i * 1.0, 2000 + m / 12, m % 12 + 1))
      .repartition(col("service_year"), col("service_month")),
      statsColumns = Seq("claim_id"))

  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def ids(df: DataFrame): Seq[(String, String)] =
    df.select("claim_id", "batch_id").as[(String, String)].collect()
      .toSeq.sorted

  test("a pruned readWhere plans and runs in at most 2 Spark jobs with 5 equality refs and a positional ref live") {
    val dir = s"$base/jobs"
    wipe(dir)
    monthly(dir, 6, 40)
    (0 until 4).foreach { i =>
      mergeMor(spark, dir, claims((0 until 10).map(j =>
        (f"K0${j % 6}-0$i$j", s"u$i", 900.0 + i, 2000, j % 6 + 1))))
    }
    deleteKeysMor(spark, dir, Seq("K00-000", "K01-001").toDF("claim_id"))
    deleteWhere(spark, dir, col("service_year") === 2000 &&
      col("service_month") === 2 && col("claim_amount") >= 30.0)
    val (eq, pos) = liveDeletes(spark, dir)
    assert(eq.size >= 5 && pos.size == 1, s"refs: $eq $pos")
    var got = Seq.empty[String]
    val jobs = jobsOf {
      val df = readWhere(spark, dir, col("service_year") === 2000 &&
        col("service_month") === 2)
      got = df.select("claim_id").as[String].collect().toSeq
    }
    assert(jobs <= 2, s"$jobs jobs planned and ran one pruned read")
    // month 2's model: upserts re-image eight keys at 900+, the key
    // delete drops one, the purge drops every amount >= 30
    val model = scala.collection.mutable.Map.empty[String, Double] ++
      (0 until 40).map(i => f"K01-$i%03d" -> i.toDouble)
    (0 until 4).foreach(i => Seq(1, 7).foreach(j =>
      model(f"K01-0$i$j") = 900.0 + i))
    model -= "K01-001"
    model.filterInPlace((_, a) => a < 30.0)
    assert(got.sorted == model.keys.toSeq.sorted)
  }

  test("sequence rule: delete then re-insert survives, nulls survive, positional and equality deletes in one file both apply") {
    val dir = s"$base/seq_rule"
    wipe(dir)
    append(spark, dir, claims((0 until 10).map(i =>
        (f"A$i%02d", "b1", i * 1.0, 2000, 1))).coalesce(1),
      statsColumns = Seq("claim_id"))
    append(spark, dir, Seq[(String, String, Double, Int, Int)](
        (null, "bn", 5.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month").coalesce(1))
    // one file, both delete kinds
    deleteKeysMor(spark, dir, Seq("A03").toDF("claim_id"))
    deleteWhere(spark, dir, col("claim_id") === "A05")
    // delete then re-insert: the new row's file outruns the delete
    deleteKeysMor(spark, dir, Seq("A07").toDF("claim_id"))
    append(spark, dir, claims(Seq(("A07", "fresh", 7.0, 2000, 1))))
    // a merge-on-read upsert whose batch carries a null key
    mergeMor(spark, dir, Seq[(String, String, Double, Int, Int)](
        ("A01", "m", 1.5, 2000, 1), (null, "mn", 6.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month"))
    val got = read(spark, dir).select("claim_id", "batch_id")
      .collect().map(r => (Option(r.getString(0)), r.getString(1))).toSeq
    val expect = ((0 until 10).filterNot(Set(1, 3, 5, 7))
        .map(i => (Some(f"A$i%02d"), "b1")) ++
      Seq((Some("A01"), "m"), (Some("A07"), "fresh"), (None, "bn"),
        (None, "mn")))
    assert(got.sortBy(_.toString) == expect.sortBy(_.toString))
    // the delete-aware DML paths agree with the read
    assert(readKeys(spark, dir, Seq("A03", "A05", "A07").toDF("claim_id"),
      "claim_id").select("batch_id").as[String].collect().toSeq ==
      Seq("fresh"))
  }

  test("a sidecar whose key type differs from the column's reads as before: int keys against a long column") {
    val dir = s"$base/typed_sidecar"
    wipe(dir)
    append(spark, dir, (0L until 20L).map(i => (i, s"r$i", 2000, 1 + (i % 2)
        .toInt)).toDF("k", "v", "service_year", "service_month"),
      statsColumns = Seq("k"))
    // the sidecar stores the keys as written: int32, not the column's
    // int64 (the layout every writer has always produced)
    deleteKeysMor(spark, dir, Seq(3, 4, 11).toDF("k"), key = "k")
    val (eq, _) = liveDeletes(spark, dir)
    val side = spark.read.parquet(s"$dir/_snapshots/${eq.head.name}")
    assert(side.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(read(spark, dir).select("k").as[Long].collect().sorted.toSeq ==
      (0L until 20L).filterNot(Set(3L, 4L, 11L)))
    // and maintenance counts its matches exactly: 3 doomed rows over
    // the two partitions
    val debt = morDebtByPartition(spark, dir)
    assert(debt.values.map(_._1).sum == 3)
  }

  test("an insert-only change feed of new keys commits no delete ref; a feed carrying deletes still does") {
    val src = s"$base/feed_src"
    val mirror = s"$base/feed_mirror"
    wipe(src); wipe(mirror)
    def batch(b: Int) = claims((0 until 5).map(i =>
      (f"C$b%03d-$i%02d", s"b$b", i * 1.0, 2000, 1 + b % 3)))
    append(spark, src, batch(0), statsColumns = Seq("claim_id"))
    append(spark, mirror, read(spark, src), statsColumns = Seq("claim_id"))
    var seen = latestVersion(spark, src)
    def drain(): Unit = {
      val to = latestVersion(spark, src)
      applyChangeFeed(spark, mirror, changeRowsBetween(spark, src, seen, to),
        "claim_id")
      seen = to
    }
    (1 to 4).foreach { b =>
      append(spark, src, batch(b), statsColumns = Seq("claim_id"))
      drain()
      assert(liveDeletes(spark, mirror)._1.isEmpty,
        s"drain $b of new keys left a delete ref")
    }
    assert(ids(read(spark, mirror)) == ids(read(spark, src)))
    // a real delete still retracts through a ref
    deleteKeysMor(spark, src, Seq("C002-03").toDF("claim_id"))
    drain()
    assert(liveDeletes(spark, mirror)._1.size == 1)
    assert(ids(read(spark, mirror)) == ids(read(spark, src)))
  }

  test("Bloom refresh writes only the uncovered files' words, and folds the list back once deltas outgrow the base") {
    val dir = s"$base/bloom_delta"
    wipe(dir)
    monthly(dir, 8, 30)
    buildFileBlooms(spark, dir, Seq("claim_id"))
    val baseName = commitMeta(spark, dir)("bloom.index")
    val baseFile = new File(s"$dir/_snapshots/$baseName")
    val baseBytes = baseFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq
    append(spark, dir, claims(Seq(("N-001", "n", 1.0, 2000, 1))),
      statsColumns = Seq("claim_id"))
    assert(refreshFileBlooms(spark, dir).nonEmpty)
    val names = commitMeta(spark, dir)("bloom.index").split(",").toSeq
    assert(names.size == 2 && names.head == baseName, s"index: $names")
    // the base sidecar is untouched; the delta covers the one new file
    assert(baseFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq ==
      baseBytes)
    assert(spark.read.parquet(s"$dir/_snapshots/${names(1)}")
      .filter(col("__wi") === -1).select("__f").distinct().count() == 1)
    // probes consult every listed sidecar: a new key and an old key hit,
    // an absent in-range key prunes to nothing
    val v = latestVersion(spark, dir)
    def cands(k: String) = candidateFilesForKeys(spark, dir,
      Seq(k).toDF("claim_id"), "claim_id", v)
    assert(cands("N-001").size == 1 && cands("K03-007").size == 1)
    assert(cands("K03-007X").isEmpty)
    assert(refreshFileBlooms(spark, dir).isEmpty, "nothing uncovered")
    // vacuum keeps every listed sidecar
    vacuum(spark, dir)
    assert(names.forall(n => new File(s"$dir/_snapshots/$n").exists()))
    // rewrite most of the table: the deltas now cover more live files
    // than the base, so the refresh folds the list into one sidecar
    compactPartitions(spark, dir, (1 to 6).map(m => (Some(2000), Some(m))))
    append(spark, dir, claims((0 until 6).map(i =>
      (f"N-1$i%02d", "n", 1.0, 2000, 7 + i % 2))).repartition(6),
      statsColumns = Seq("claim_id"))
    assert(refreshFileBlooms(spark, dir).nonEmpty)
    val folded = commitMeta(spark, dir)("bloom.index").split(",").toSeq
    assert(folded.size == 1 && !names.contains(folded.head),
      s"index after fold: $folded")
    val v2 = latestVersion(spark, dir)
    assert(candidateFilesForKeys(spark, dir, Seq("K07-003", "N-001",
      "N-103").toDF("claim_id"), "claim_id", v2).size == 3)
    assert(candidateFilesForKeys(spark, dir, Seq("K07-003X").toDF(
      "claim_id"), "claim_id", v2).isEmpty)
  }

  test("wiring the fast local file system unregisters a cached stock instance without closing it") {
    val uri = java.net.URI.create("file:///")
    val hc = spark.sparkContext.hadoopConfiguration
    val fast = FileSystem.get(uri, hc)
    assert(fast.isInstanceOf[graft.fs.FastLocalFileSystem])
    // put a stock instance in the shared cache, as a session whose
    // first file:// access predates the wiring would
    org.apache.hadoop.fs.GraftFsCache.forget(uri, hc, fast)
    val stockConf = new org.apache.hadoop.conf.Configuration(hc)
    stockConf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    val stock = FileSystem.get(uri, stockConf)
    assert(!stock.isInstanceOf[graft.fs.FastLocalFileSystem])
    val marker = new Path(new File(s"$base/on_exit_marker").getAbsolutePath)
    wipe(s"$base/on_exit_marker")
    stock.create(marker, true).close()
    stock.deleteOnExit(marker)
    try {
      Engine.configure(spark)
      assert(FileSystem.get(uri, hc).isInstanceOf[graft.fs.FastLocalFileSystem])
      // not closed: its delete-on-exit path is still pending, and it
      // still serves calls
      assert(stock.exists(marker), "the stock instance's exit hooks fired")
      assert(stock.getFileStatus(marker).getLen == 0)
    } finally {
      stock.cancelDeleteOnExit(marker)
      stock.delete(marker, false)
    }
  }
}
