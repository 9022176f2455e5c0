package graft

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** How the snapshot table selects files:
  *  - the key probe keeps every file that truly holds a key, for every
  *    zone kind and key type, with and without a Bloom index;
  *  - planning a change feed's pre-images runs no Spark job;
  *  - `readWhere` and `deleteWhere` select through one planner, Bloom
  *    step included;
  *  - a year-only predicate keeps the year's null-month partition.
  */
class FileSelectionSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotTable._

  private val base = "target/test_file_selection"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

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

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ntz(s: String) = LocalDateTime.parse(s)

  /** Four files, one per append, each holding its own value ranges:
    * code-point-ordered strings around the surrogate range and U+FFFF,
    * longs beyond 2^53, signed zeros, NaN and infinity, dates,
    * timestamps at whole seconds and with micros, and booleans. */
  private val files = Seq(
    Seq(("a0", 1L, -0.0, "1990-01-01", "1990-01-01 00:00:00",
        "1990-01-01T00:00:00", true),
      ("a1", 2L, 0.5, "1990-02-01", "1990-01-01 00:00:01",
        "1990-01-01T00:00:01", true),
      ("a2", 3L, 1.0, "1990-03-01", "1990-01-01 00:00:02",
        "1990-01-01T00:00:02", true)),
    Seq(("\uE000x", 9007199254740992L, 2.0, "1991-01-02",
        "1991-05-05 10:00:00.123456", "1991-05-05T10:00:00.123456", false),
      ("\uE001", 9007199254740993L, 3.0, "1991-09-09",
        "1991-05-05 10:00:00.5", "1991-05-05T10:00:00.5", false),
      ("\uE002", 9007199254740995L, Double.PositiveInfinity, "1991-12-31",
        "1991-05-05 11:00:00", "1991-05-05T11:00:00", false)),
    Seq(("\uD83D\uDE00", Long.MaxValue - 2, Double.NaN, "1992-01-01",
        "1992-01-01 00:00:00", "1992-01-01T00:00:00", true),
      ("\uD83D\uDE01", Long.MaxValue - 1, 10.0, "1992-06-01",
        "1992-01-01 00:00:00.000001", "1992-01-01T00:00:00.000001", false),
      ("\uD83D\uDE02", Long.MaxValue, 11.0, "1992-12-01",
        "1992-01-01 12:00:00", "1992-01-01T12:00:00", true)),
    Seq(("\uFFFF", Long.MinValue, -5.0, "1993-01-01", "1993-01-01 00:00:00",
        "1993-01-01T00:00:00", true),
      ("\uFFFFa", -5L, -4.0, "1993-01-02", "1993-01-01 00:00:00.25",
        "1993-01-01T00:00:00.25", true),
      ("\uFFFF\uFFFF", -1L, -3.0, "1993-01-03", "1993-01-01 23:59:59",
        "1993-01-01T23:59:59", true)))

  private val cols = Seq("s", "l", "d", "dt", "ts", "ntz", "b")

  private def table(dir: String, statsColumns: Seq[String]): Unit = {
    wipe(dir)
    files.foreach { rows =>
      append(spark, dir, rows.map { case (s, l, d, dt, t, n, b) =>
        (s, l, d, Date.valueOf(dt), ts(t), ntz(n), b, 2000, 1)
      }.toDF(cols :+ "service_year" :+ "service_month": _*).coalesce(1),
        statsColumns = statsColumns, rebalance = false)
    }
  }

  /** Probe key sets per column: present, absent and in-range-absent
    * keys, some typed unlike the column. */
  private def probes: Seq[(String, DataFrame)] = Seq(
    "s" -> Seq("a1", "\uE001", "\uD83D\uDE01", "\uFFFFa").toDF("s"),
    "s" -> Seq("zzz", "\uD83D\uDE03", "", "\uE000").toDF("s"),
    "s" -> Seq("\uFFFF\uFFFF", "\uD83D\uDE00").toDF("s"),
    "l" -> Seq(9007199254740993L, Long.MaxValue - 1, Long.MinValue, 4L)
      .toDF("l"),
    "l" -> Seq(9007199254740994L, 0L).toDF("l"),
    "l" -> Seq(2, 3, 7).toDF("l"),
    "d" -> Seq(0.0, Double.NaN, 2.5, 1e300).toDF("d"),
    "d" -> Seq(-4.0, 11.0).toDF("d"),
    "dt" -> Seq(Date.valueOf("1991-01-02"), Date.valueOf("1995-06-01"))
      .toDF("dt"),
    "dt" -> Seq("1991-9-9", "1992-06-01").toDF("dt"),
    "ts" -> Seq(ts("1990-01-01 00:00:00"), ts("1991-05-05 10:00:00.5"),
      ts("1992-01-01 00:00:00.000001"), ts("1994-01-01 00:00:00")).toDF("ts"),
    "ntz" -> Seq(ntz("1990-01-01T00:00:01"), ntz("1993-01-01T00:00:00.25"),
      ntz("1991-05-05T10:00:00.123456"), ntz("1999-01-01T00:00:00"))
      .toDF("ntz"),
    "b" -> Seq(false).toDF("b"),
    "b" -> Seq(true).toDF("b"))

  /** truth <= candidates <= live at `v`, for every probe. */
  private def checkProbes(dir: String, v: Int): Unit = {
    val live = manifest(spark, dir, v).files
    val data = read(spark, dir, Some(v))
    probes.foreach { case (c, keys) =>
      val truth = data.select(col(c), col("_metadata.file_path").as("__p"))
        .join(keys, Seq(c), "leftsemi").select("__p").as[String].collect()
        .map(p => live.find(f => p.endsWith("/" + f)).get).toSet
      val cands = candidateFilesForKeys(spark, dir, keys, c, v)
      val keyList = keys.collect().map(_.get(0)).mkString(", ")
      assert(truth.subsetOf(cands.toSet),
        s"$dir v$v: probe $c in [$keyList] lost ${truth -- cands}")
      assert(cands.toSet.subsetOf(live.toSet), s"$dir v$v: $cands")
    }
  }

  test("the key probe keeps every file that holds a key, for every zone kind and key type, with and without a Bloom index") {
    // footer-rendered zones (every column type the footers render) and
    // scan-rendered zones (booleans and TimestampNTZ take the scan)
    Seq("footer" -> cols.take(5), "scan" -> cols).foreach {
      case (name, stats) =>
        val dir = s"$base/probe_$name"
        table(dir, stats)
        val v = latestVersion(spark, dir)
        checkProbes(dir, v)
        // zones alone are sharp: a key held by one file names one file
        assert(candidateFilesByKeyZone(spark, dir,
          Seq("a1").toDF("s"), "s", v).size == 1)
        assert(candidateFilesByKeyZone(spark, dir,
          Seq(4L).toDF("l"), "l", v).isEmpty)
        buildFileBlooms(spark, dir, cols)
        checkProbes(dir, latestVersion(spark, dir))
    }
  }

  test("planning a deleteKeysMor commit's pre-image positions runs no Spark job") {
    val dir = s"$base/preimage_jobs"
    wipe(dir)
    (0 until 3).foreach { f =>
      append(spark, dir, (0 until 10).map(i =>
          (f"K$f-$i%02d", "b1", i * 1.0, 2000, 1 + f))
        .toDF("claim_id", "batch_id", "claim_amount", "service_year",
          "service_month").coalesce(1),
        statsColumns = Seq("claim_id"), rebalance = false)
    }
    deleteKeysMor(spark, dir, Seq("K0-03", "K1-04", "K1-05").toDF("claim_id"))
    val v = latestVersion(spark, dir)
    var frame: Option[DataFrame] = None
    val jobs = jobsOf { frame = preImagePositionsFrame(spark, dir, v) }
    assert(jobs == 0, s"planning the pre-images ran $jobs Spark jobs")
    assert(frame.get.count() == 3)
    assert(frame.get.select("__rel").distinct().count() == 2)
  }

  test("deleteWhere scans exactly the files readWhere keeps, Bloom step included") {
    val dir = s"$base/one_selection"
    wipe(dir)
    append(spark, dir, (0 until 1000).map(i =>
        (f"K$i%05d", "b1", i * 1.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month").repartition(8, col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    buildFileBlooms(spark, dir, Seq("claim_id"))
    val p = col("claim_id") === "K00007" && col("claim_amount") >= 0.0
    val (_, live, kept) = readWherePlanned(spark, dir, p)
    assert(kept >= 1 && kept < live, s"kept $kept of $live")
    val (_, total, scanned) = deleteWherePlanned(spark, dir, p).get
    assert(total == live && scanned == kept,
      s"deleteWhere scanned $scanned of $total, readWhere kept $kept")
    assert(read(spark, dir).count() == 999)
    assert(read(spark, dir).filter(p).isEmpty)
  }

  test("a year-only predicate keeps the year's null-month partition") {
    val dir = s"$base/null_month"
    wipe(dir)
    append(spark, dir, Seq(("A", 2024, Option(3)), ("B", 2024, None),
        ("C", 2023, Option(5)))
      .toDF("claim_id", "service_year", "service_month"))
    val p = col("service_year") === 2024
    def ids(df: DataFrame) = df.select("claim_id").as[String].collect().sorted
    assert(ids(read(spark, dir).filter(p)).toSeq == Seq("A", "B"))
    assert(ids(readWhere(spark, dir, p)).toSeq == Seq("A", "B"))
    assert(deleteWhere(spark, dir, p).nonEmpty)
    assert(ids(read(spark, dir)).toSeq == Seq("C"))
  }
}
