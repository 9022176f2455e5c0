package lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Bronze, DqEngine, GoldSql, IncrementalGold, SilverCleanse, SnapshotTable}
import lakebench.Gen.Claim

/** What a workload records while it runs. Times are seconds. */
final class Samples {
  val op = mutable.ArrayBuffer.empty[Double]       // primary ops
  val read = mutable.ArrayBuffer.empty[Double]     // the read after each op
  val lag = mutable.ArrayBuffer.empty[Double]      // ingest: mirror drains
  val maintain = mutable.ArrayBuffer.empty[Double] // mutate: maintain calls
  var rows = 0L                                    // rows landed / changed
  var attempted = 0
  var failed = 0
}

/** One output check: name, passed, detail. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload drives the engine through its public API from one thread in
  * a closed loop: `step` issues the next call only after the previous one
  * returned. */
abstract class Workload(val spark: SparkSession, val trace: Trace,
    val seed: Long) {
  val s = new Samples

  /** Build the inputs and tables under `dir`. */
  def setup(dir: String): Unit
  /** Untimed ops on the last build, so the measured loop starts warm. */
  def warmup(): Unit
  /** One closed-loop repeat of the workload's fixed op pattern, so every
    * run carries the same mix whatever its seed. */
  def step(): Unit
  /** Untimed output checks, run once after the measured phase. */
  def checks(): Seq[Check]
  /** Bytes under the silver table's directory per live row. */
  def storedBytesPerRow: Double
  /** Per-layer counts that are not times (traced runs only). */
  def layerCounts(): Map[String, Double]
  /** Called when the traced phase opens. */
  def resetCounts(): Unit

  protected def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
    s.attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      into += (System.nanoTime() - t0) / 1e9
      out
    } catch {
      case e: Throwable =>
        s.failed += 1
        System.err.println(s"[lakebench] op failed: $e")
        throw e
    }
  }

  /** Materialize through the noop sink, as graft.Bench does. */
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // --- files-selected accounting for SnapshotTable.select (traced only)
  protected var filesSelected = 0L
  protected var filesLive = 0L
  protected def countSelection(table: String, df: DataFrame): Unit =
    if (trace.enabled) {
      filesSelected += df.inputFiles.count(f => !f.contains("/_snapshots/"))
      filesLive += SnapshotTable.manifest(spark, table,
        SnapshotTable.latestVersion(spark, table)).files.size
    }
  protected def tableCounts(table: String): Map[String, Double] = {
    val v = SnapshotTable.latestVersion(spark, table)
    val (eq, pos) = SnapshotTable.liveDeletes(spark, table)
    Map("SnapshotTable.commit.files_live" ->
        SnapshotTable.manifest(spark, table, v).files.size.toDouble,
      "SnapshotTable.commit.delete_files_live" -> (eq.size + pos.size).toDouble,
      "SnapshotTable.commit.versions" -> v.toDouble,
      "SnapshotTable.select.files_selected_frac" ->
        (if (filesLive == 0) 0.0 else filesSelected.toDouble / filesLive))
  }
}

object Workloads {
  val Names = Seq("ingest", "mutate")

  def apply(name: String, spark: SparkSession, trace: Trace, seed: Long)
      : Workload = name match {
    case "ingest" => new Ingest(spark, trace, seed)
    case "mutate" => new Mutate(spark, trace, seed)
  }

  // ------------------------------------------------------------ helpers

  val SilverSchema: StructType = StructType(Seq(
    StructField("claim_id", StringType), StructField("member_id", StringType),
    StructField("provider_name", StringType),
    StructField("claim_amount", DoubleType),
    StructField("service_date", DateType),
    StructField("service_year", IntegerType),
    StructField("service_month", IntegerType),
    StructField("service_day", IntegerType),
    StructField("claim_amount_category", StringType),
    StructField("data_quality_score", DoubleType),
    StructField("processing_timestamp", TimestampType),
    StructField("batch_id", StringType)))

  /** Zone stats the base table records: key zones for DML probes,
    * amount and date zones for readWhere pruning. */
  val StatsColumns = Seq("claim_id", "claim_amount", "service_date")

  private val Processed =
    java.sql.Timestamp.from(java.time.Instant.parse("2025-01-01T00:00:00Z"))

  private def category(a: Double) =
    if (a == 0.0) "ZERO" else if (a <= 100) "LOW" else if (a <= 1000) "MEDIUM"
    else if (a <= 10000) "HIGH" else "VERY_HIGH"

  def silverFrame(spark: SparkSession, claims: Seq[Claim]): DataFrame =
    spark.createDataFrame(claims.map { c =>
      val d = c.serviceDate
      Row(c.claimId, c.memberId, c.provider, c.amount,
        java.sql.Date.valueOf(d), d.getYear, d.getMonthValue,
        d.getDayOfMonth, category(c.amount),
        if (c.amount <= 0) 0.7 else 1.0, Processed, c.batchId)
    }.asJava, SilverSchema)

  /** The identity of a silver row as both sides render it. */
  def canon(c: Claim): String =
    s"${c.claimId}|${c.memberId}|${c.provider}|${c.amount}|${c.serviceDate}|${c.batchId}"
  def canon(df: DataFrame): Seq[String] =
    df.select("claim_id", "member_id", "provider_name", "claim_amount",
      "service_date", "batch_id").collect().toSeq.map(r =>
      s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|" +
        s"${r.getDouble(3)}|${r.getDate(4)}|${r.getString(5)}")

  def sameClaims(name: String, got: DataFrame, want: Iterable[Claim]): Check = {
    val g = canon(got).sorted
    val w = want.map(canon).toSeq.sorted
    val missing = w.diff(g).take(3)
    val extra = g.diff(w).take(3)
    Check(name, g == w,
      s"rows ${g.size} vs model ${w.size}; missing $missing; extra $extra")
  }

  /** Equal result sets, doubles within a relative 1e-9 (sums and averages
    * legitimately differ in their last bits with accumulation order). */
  def sameRows(name: String, got: Seq[Row], want: Seq[Row]): Check = {
    def sorted(rs: Seq[Row]) = rs.map(_.toSeq).sortBy(_.map {
      case _: java.lang.Double | _: java.lang.Float => ""
      case x => String.valueOf(x)
    }.mkString("|"))
    val (g, w) = (sorted(got), sorted(want))
    def close(a: Any, b: Any) = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        x.equals(y) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    val bad = g.zip(w).find { case (a, b) =>
      a.size != b.size || a.zip(b).exists { case (x, y) => !close(x, y) }
    }
    Check(name, g.size == w.size && bad.isEmpty,
      s"rows ${g.size} vs ${w.size}; first mismatch $bad")
  }

  /** (bytes, files) under `dir`; zeros when it does not exist. */
  def usage(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val c = fs.getContentSummary(p)
      (c.getLength, c.getFileCount)
    }
  }
  def dirBytes(spark: SparkSession, dir: String): Long = usage(spark, dir)._1

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(v.size - 1, lo + 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

}

import Workloads._

/** `ingest`: hourly dirty CSV drops through the paper's whole chain —
  * bronze, cleanse + snapshot append, DQ suite, incremental gold — then a
  * change-feed drain of the new silver rows into a mirror, and an
  * analyst's GoldSql query over the grown silver table. */
final class Ingest(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload(spark, trace, seed) {
  val DropRows = 2000
  val DropsPerStep = 2
  /** The dashboard view analysts read after each publish. */
  val AnalystView = "gold_claims_summary"

  private var lake = ""
  private var next = 0
  private var landed = 0L
  private var mirrored = 0
  private var lastAnswer = Seq.empty[Row]
  private val dqMismatch = mutable.ArrayBuffer.empty[String]
  private var rawRows, republished, bronzeFiles0, bytes0, rows0 = 0L
  private var batches, feedRows = 0L
  private val listener = new StreamCounter

  /** Counts micro-batches and their input rows (traced runs only). */
  final class StreamCounter
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        batches += 1; feedRows += e.progress.numInputRows
      }
  }

  private def silverDir = s"$lake/silver/claims"
  private def mirrorDir = s"$lake/mirror/claims"
  private def bronzeDir = s"$lake/bronze/claims"
  private def goldDir = s"$lake/gold"

  /** One drop of history, and the mirror bootstrapped from it. */
  def setup(dir: String): Unit = {
    lake = dir
    ingestOne(timedOp = false, mirror = false)
    SnapshotTable.append(spark, mirrorDir, SnapshotTable.read(spark, silverDir))
    mirrored = SnapshotTable.latestVersion(spark, silverDir)
  }

  def warmup(): Unit = ingestOne(timedOp = false)

  def step(): Unit = (1 to DropsPerStep).foreach(_ => ingestOne(timedOp = true))

  /** Clock of drop i: the paper's hourly bronze cadence. */
  private def clockOf(i: Int) =
    java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusHours(i.toLong)
      .toString.replace('T', ' ') + ":00"

  private def ingestOne(timedOp: Boolean, mirror: Boolean = true): Unit = {
    val i = next
    next += 1
    val drop = Gen.drop(seed, i, DropRows)
    val dropDir = s"$lake/incoming/drop_$i"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dropDir/claims.csv"),
      drop.csv)
    def t[T](buf: mutable.ArrayBuffer[Double])(body: => T): T =
      if (timedOp) timed(buf)(body) else body
    val clock = to_timestamp(lit(clockOf(i)))
    t(s.op)(trace.op("ingest") {
      val batch = trace.span("Bronze") {
        Bronze.writeBronze(Bronze.ingestCsv(spark, dropDir), bronzeDir, clock)
        Bronze.readBronze(spark, bronzeDir)
          .filter(col("batch_id") === date_format(clock, "yyyyMMdd_HHmmss"))
      }
      val silver = SilverCleanse.clean(batch.select(
          col("claim_id").as("claim_id_raw"),
          col("member_id").as("member_id_raw"),
          col("provider_name").as("provider_raw"),
          col("claim_amount").cast("double").as("amount_raw"),
          col("service_date").cast("string").as("service_date_raw"),
          col("ingestion_timestamp"), col("source_file"), col("batch_id")),
        passthrough = Seq("ingestion_timestamp", "source_file", "batch_id"),
        clock = clock)
      trace.span("SnapshotTable.commit") {
        SnapshotTable.append(spark, silverDir, silver)
      }
      val report = trace.span("DqEngine") { DqEngine.run(silver).collect() }
      report.find(_.getAs[String]("expectation_type") ==
          "expect_table_row_count_to_be_between")
        .map(_.getAs[Double]("observed").toLong)
        .filter(_ != drop.clean)
        .foreach(n => dqMismatch += s"drop $i: DQ counted $n, want ${drop.clean}")
      val parts = trace.span("IncrementalGold") {
        IncrementalGold.publishIncrementalSnapshot(spark, silverDir, goldDir)
      }
      republished += parts.size
    })
    landed += drop.clean
    rawRows += drop.rows
    if (timedOp) s.rows += drop.clean
    if (mirror) t(s.lag)(trace.op("drain")(drain()))
    // an analyst's gold answer over the silver table as it now stands
    t(s.read)(trace.op("read") {
      trace.span("SnapshotTable.select") {
        val df = SnapshotTable.read(spark, silverDir)
        df.createOrReplaceTempView("silver_claims")
        countSelection(silverDir, df)
      }
      trace.span("GoldSql") {
        GoldSql.createViews(spark)
        lastAnswer = GoldSql.view(spark, AnalystView).collect().toSeq
      }
    })
  }

  /** Bring the mirror up to silver's latest commit: a graft-snapshot-cdc
    * AvailableNow drain whose micro-batches applyChangeFeed applies. */
  private def drain(): Unit = {
    val target = SnapshotTable.latestVersion(spark, silverDir)
    if (target > mirrored) trace.span("SnapshotCdcSource") {
      spark.readStream.format("graft-snapshot-cdc")
        .option("path", silverDir)
        .option("startVersion", mirrored.toString)
        .option("endVersion", target.toString)
        .load()
        .writeStream
        .foreachBatch { (mb: DataFrame, _: Long) =>
          trace.span("SnapshotTable.commit") {
            SnapshotTable.applyChangeFeed(spark, mirrorDir, mb, "claim_id")
          }
          ()
        }
        .option("checkpointLocation", s"$lake/streams/cdc_${mirrored}_$target")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    mirrored = target
  }

  def checks(): Seq[Check] = {
    val silver = SnapshotTable.read(spark, silverDir)
    val n = silver.count()
    val dated = silver.filter(col("service_date").isNotNull).count()
    val answered = lastAnswer.map(_.getAs[Long]("total_claims")).sum
    val mirror = canon(SnapshotTable.read(spark, mirrorDir)).sorted
    val source = canon(silver).sorted
    Seq(Check("ingest.silver_rows", n == landed,
        s"silver holds $n rows, generator expects $landed"),
      Check("ingest.dq_row_count", dqMismatch.isEmpty,
        dqMismatch.take(3).mkString("; ")),
      Check("ingest.mirror_vs_silver", mirror == source,
        s"mirror ${mirror.size} rows, silver ${source.size}"),
      Check("ingest.gold_sql_current", answered == dated,
        s"$AnalystView counts $answered claims, silver holds $dated dated"),
      sameRows("ingest.gold.claims_summary", spark.read.parquet(
        s"$goldDir/claims_summary").select(goldCols: _*).collect(),
        IncrementalGold.goldOf(silver).select(goldCols: _*).collect()))
  }

  private val goldCols = Seq("service_year", "service_month",
    "claim_amount_category", "total_claims", "unique_members", "total_amount",
    "n_flagged").map(col)

  def storedBytesPerRow: Double = dirBytes(spark, silverDir).toDouble / landed

  def resetCounts(): Unit = {
    rawRows = 0; republished = 0; batches = 0; feedRows = 0
    filesSelected = 0; filesLive = 0
    bronzeFiles0 = usage(spark, bronzeDir)._2
    bytes0 = dirBytes(spark, silverDir) + dirBytes(spark, mirrorDir)
    rows0 = landed
    spark.streams.addListener(listener)
  }

  def layerCounts(): Map[String, Double] = {
    spark.streams.removeListener(listener)
    tableCounts(silverDir) ++ Map(
      "Bronze.rows" -> rawRows.toDouble,
      "Bronze.files_written" ->
        (usage(spark, bronzeDir)._2 - bronzeFiles0).toDouble,
      "SnapshotTable.commit.bytes_written_per_row" ->
        (dirBytes(spark, silverDir) + dirBytes(spark, mirrorDir) - bytes0)
          .toDouble / math.max(1L, landed - rows0),
      "SnapshotCdcSource.batches" -> batches.toDouble,
      "SnapshotCdcSource.rows_per_batch" ->
        (if (batches == 0) 0.0 else feedRows.toDouble / batches),
      "IncrementalGold.partitions_republished" -> republished.toDouble)
  }
}

/** `mutate`: a seeded DML stream on a Bloom-indexed base table —
  * merge-on-read upserts, key and range deletes — each commit followed
  * by a pruned read of the live table, and `maintain` after every six
  * commits.
  *
  * Copy-on-write `merge` is left out: on a table with live merge-on-read
  * deletes it fails (its file probe applies input_file_name() over the
  * delete-aware read, which Spark rejects as MULTI_SOURCES_UNSUPPORTED).
  * So is a change-feed mirror of this table: draining one equality-delete
  * commit costs seconds here, and with a drain per commit a run held too
  * few commits for steady medians (ingest drains its append feed). */
final class Mutate(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload(spark, trace, seed) {
  import spark.implicits._

  val BaseRows = 16000
  val BaseFilesPerMonth = 3
  val UpsertRows = 40
  val DeleteKeys = 20
  val CommitsPerStep = 6
  val LookupKeys = 20

  private var src = ""
  private val model = mutable.LinkedHashMap.empty[String, Claim]
  private var hot = Vector.empty[Claim]
  private var zipf: Gen.Zipf = _
  private var next = 0
  private var bytes0, rows0, changed = 0L

  /** The seed's claims in one append of [[BaseFilesPerMonth]] files per
    * month partition, then a Bloom index on claim_id. */
  def setup(dir: String): Unit = {
    src = s"$dir/silver"
    val base = Gen.baseClaims(seed, BaseRows)
    SnapshotTable.append(spark, src,
      silverFrame(spark, base).repartition(BaseFilesPerMonth),
      statsColumns = StatsColumns, rebalance = false)
    SnapshotTable.buildFileBlooms(spark, src, Seq("claim_id"))
    base.foreach(c => model(c.claimId) = c)
    hot = Gen.hotClaims(seed, base)
    zipf = new Gen.Zipf(hot.size, 1.1)
  }

  /** One batch of each DML kind (Gen.dml's first three), so nothing
    * measured is cold but `maintain`. */
  def warmup(): Unit = (1 to 3).foreach(_ => cycle(timedOp = false))

  /** Six DML cycles (four upserts, a key delete, a range delete — Gen.dml's
    * kinds), then `maintain`. */
  def step(): Unit = {
    (1 to CommitsPerStep).foreach(_ => cycle(timedOp = true))
    timed(s.maintain)(trace.op("maintain") {
      trace.span("SnapshotTable.commit") { SnapshotTable.maintain(spark, src) }
    })
  }

  /** Apply one DML batch to the table; returns rows it changed. */
  private def commit(d: Gen.Dml): Long = d match {
    case Gen.Upsert(_, rows) =>
      trace.span("SnapshotTable.commit") {
        SnapshotTable.mergeMor(spark, src, silverFrame(spark, rows),
          statsColumns = StatsColumns)
      }
      rows.foreach(c => model(c.claimId) = c)
      rows.size
    case Gen.DeleteKeys(_, keys) =>
      trace.span("SnapshotTable.commit") {
        SnapshotTable.deleteKeysMor(spark, src, keys.toDF("claim_id"))
      }
      keys.count(k => model.remove(k).isDefined)
    case Gen.DeleteRange(_, y, m, lo) =>
      trace.span("SnapshotTable.commit") {
        SnapshotTable.deleteWhere(spark, src, col("service_year") === y &&
          col("service_month") === m && col("claim_amount") >= lo)
      }
      val doomed = model.values.filter(c => c.serviceDate.getYear == y &&
        c.serviceDate.getMonthValue == m && c.amount >= lo).map(_.claimId)
        .toSeq
      doomed.foreach(model.remove)
      doomed.size
  }

  /** One DML commit and an analyst's pruned read of the current month,
    * where the new claims land. */
  private def cycle(timedOp: Boolean): Unit = {
    val d = Gen.dml(seed, next, zipf, hot, UpsertRows, DeleteKeys)
    next += 1
    def t[T](buf: mutable.ArrayBuffer[Double])(body: => T): T =
      if (timedOp) timed(buf)(body) else body
    val n = t(s.op)(trace.op("dml")(commit(d)))
    if (timedOp) { s.rows += n; changed += n }
    t(s.read)(trace.op("read") {
      trace.span("SnapshotTable.select") {
        val df = SnapshotTable.readWhere(spark, src,
          col("service_year") === Gen.CurrentMonth.getYear &&
            col("service_month") === Gen.CurrentMonth.getMonthValue &&
            col("claim_amount") >= 500.0)
        noop(df)
        countSelection(src, df)
      }
    })
  }

  def checks(): Seq[Check] = {
    val probe = hot.take(LookupKeys).map(_.claimId)
    Seq(sameClaims("mutate.table_vs_model", SnapshotTable.read(spark, src),
        model.values),
      sameClaims("mutate.read_keys_vs_model", SnapshotTable.readKeys(spark,
        src, probe.toDF("claim_id"), "claim_id"), probe.flatMap(model.get)),
      sameClaims("mutate.read_where_vs_model", SnapshotTable.readWhere(spark,
        src, col("service_year") === 2024 && col("claim_amount") >= 500.0),
        model.values.filter(c => c.serviceDate.getYear == 2024 &&
          c.amount >= 500.0)))
  }

  def storedBytesPerRow: Double = dirBytes(spark, src).toDouble / model.size

  def resetCounts(): Unit = {
    filesSelected = 0; filesLive = 0
    bytes0 = dirBytes(spark, src)
    rows0 = changed
  }

  def layerCounts(): Map[String, Double] = tableCounts(src) ++ Map(
    "SnapshotTable.commit.bytes_written_per_row" ->
      (dirBytes(spark, src) - bytes0).toDouble / math.max(1L, changed - rows0))
}
