package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.SnapshotTable

/** How a snapshot read applies live merge-on-read deletes:
  *  - one data-file relation per partition spec and one delete filter,
  *    however many delete refs and file sequences are live;
  *  - a seeded run of DML ops keeps `read`, a month's `readWhere` and
  *    `readKeys` equal to an in-memory model after every op;
  *  - a key set larger than the literal bound applies as one
  *    sequence-conditioned anti-join;
  *  - a table whose path holds a space keeps its Bloom pruning, its
  *    positional deletes and its key deletes;
  *  - a key probe over a local key frame runs no Spark job.
  */
class DeleteFilterSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotTable._

  private val base = "target/test_delete_filter"

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

  private def claims(rows: Seq[(String, String, Double, Int, Int)]) =
    rows.toDF("claim_id", "batch_id", "claim_amount", "service_year",
      "service_month")

  /** The data-file relations (not delete sidecars) of `df`'s plan. */
  private def dataRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case h: HadoopFsRelation if !h.location.rootPaths
          .exists(_.toString.contains("/_snapshots/")) => h
    }

  test("a month read with files at 7 sequences, 6 equality refs and a positional ref plans one data relation and no union") {
    val dir = s"$base/plan_shape"
    wipe(dir)
    append(spark, dir, claims((0 until 40).map(i =>
        (f"K$i%03d", "b0", i * 1.0, 2000, 1))).coalesce(1),
      statsColumns = Seq("claim_id"))
    val model = scala.collection.mutable.Map.empty[String, (String, Double)] ++
      (0 until 40).map(i => f"K$i%03d" -> ("b0", i * 1.0))
    (1 to 6).foreach { s =>
      val ups = (0 until 5).map(j => (f"K${s * 5 + j}%03d", s"u$s", 100.0 + s))
      mergeMor(spark, dir, claims(ups.map { case (k, b, a) =>
        (k, b, a, 2000, 1) }))
      ups.foreach { case (k, b, a) => model(k) = (b, a) }
    }
    deleteWhere(spark, dir, col("service_year") === 2000 &&
      col("service_month") === 1 && col("claim_amount") < 3.0)
    model.filterInPlace((_, v) => v._2 >= 3.0)
    val (eq, pos) = liveDeletes(spark, dir)
    assert(eq.size == 6 && pos.size == 1, s"refs: $eq $pos")
    assert(manifest(spark, dir, latestVersion(spark, dir)).files.size >= 7)
    val df = readWhere(spark, dir, col("service_year") === 2000 &&
      col("service_month") === 1)
    assert(dataRelations(df).size == 1, df.queryExecution.analyzed)
    assert(df.queryExecution.analyzed.collect { case u: Union => u }.isEmpty)
    assert(df.columns.toSeq == Seq("claim_id", "batch_id", "claim_amount",
      "service_year", "service_month"))
    val got = df.select("claim_id", "batch_id", "claim_amount")
      .as[(String, String, Double)].collect().toSeq.sorted
    assert(got == model.toSeq.map { case (k, (b, a)) => (k, b, a) }.sorted)
  }

  test("seeded DML op sequences keep read, a month readWhere and readKeys equal to a model") {
    type R = (Option[Long], String, Double, Int)
    val months = Seq(1, 2, 3)
    val started = System.nanoTime()
    val ops = new AtomicInteger()
    // four independent tables, driven concurrently: each op is mostly
    // driver latency, so the four sequences overlap on a small box
    def run(seed: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      val dir = s"$base/model_$seed"
      wipe(dir)
      // model: the visible rows, one per non-null key, nulls as a bag
      val rows = scala.collection.mutable.ArrayBuffer.empty[R]
      val deleted = scala.collection.mutable.Set.empty[Long]
      var nextKey = 0L
      var stamp = 0
      def frame(rs: Seq[R]): DataFrame = spark.createDataFrame(
        rs.map { case (k, v, a, m) =>
          Row(k.map(Long.box).orNull, v, a, 2000, m) }.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v STRING, amt DOUBLE, service_year INT, " +
            "service_month INT"))
      def fresh(n: Int): Seq[R] = (0 until n).map { _ =>
        stamp += 1
        val k = if (rnd.nextInt(8) == 0) None
          else { nextKey += 1; Some(nextKey) }
        (k, f"s$stamp%05d", rnd.nextInt(100).toDouble,
          months(rnd.nextInt(3)))
      }
      append(spark, dir, frame(fresh(12)), statsColumns = Seq("k"))
      rows ++= sortedRows(read(spark, dir)
        .select("k", "v", "amt", "service_month").collect().toSeq)
      def liveKeys = rows.flatMap(_._1).toSeq
      def pick(ks: Seq[Long], n: Int) =
        if (ks.isEmpty) Nil else Seq.fill(n)(ks(rnd.nextInt(ks.size))).distinct
      (1 to 50).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => // append new rows, nulls among them
            val rs = fresh(1 + rnd.nextInt(4))
            append(spark, dir, frame(rs), statsColumns = Seq("k"))
            rows ++= rs
          case 1 => // upsert live and new keys; the batch wins per key
            val ups = (pick(liveKeys, 2) ++ Seq.fill(1)({
              nextKey += 1; nextKey })).map { k =>
              stamp += 1
              (Some(k): Option[Long], f"s$stamp%05d",
                rnd.nextInt(100).toDouble, months(rnd.nextInt(3)))
            }
            mergeMor(spark, dir, frame(ups), key = "k", versionCol = "v",
              statsColumns = Seq("k"))
            rows.filterInPlace(r => !ups.exists(_._1 == r._1))
            rows ++= ups
          case 2 => // key delete, int keys against the long column
            val ks = pick(liveKeys, 2)
            if (ks.nonEmpty) {
              deleteKeysMor(spark, dir, ks.map(_.toInt).toDF("k"), key = "k")
              rows.filterInPlace(r => !r._1.exists(ks.contains))
              deleted ++= ks
            }
          case 3 => // positional delete by predicate
            val m = months(rnd.nextInt(3))
            val lo = 60 + rnd.nextInt(40)
            deleteWhere(spark, dir, col("service_year") === 2000 &&
              col("service_month") === m && col("amt") >= lo.toDouble)
            rows.filterInPlace(r => !(r._4 == m && r._3 >= lo))
          case 4 => // fold a month's debt into data
            val m = months(rnd.nextInt(3))
            if (manifest(spark, dir, latestVersion(spark, dir)).files
                .exists(_.contains(s"service_month=$m/")))
              compactPartitions(spark, dir, Seq((Some(2000), Some(m))))
          case _ => // re-insert a deleted key
            val back = deleted.headOption
            back.foreach { k =>
              stamp += 1
              val r: R = (Some(k), f"s$stamp%05d", rnd.nextInt(100).toDouble,
                months(rnd.nextInt(3)))
              append(spark, dir, frame(Seq(r)), statsColumns = Seq("k"))
              rows += r
              deleted -= k
            }
        }
        val op = ops.incrementAndGet()
        // the three reads, tagged, checked through one collect
        val m = months(rnd.nextInt(3))
        val probe = pick(liveKeys, 2) ++ deleted.take(1) :+ (nextKey + 1)
        val got = Seq(read(spark, dir),
            readWhere(spark, dir, col("service_year") === 2000 &&
              col("service_month") === m),
            readKeys(spark, dir, probe.toDF("k"), "k"))
          .zipWithIndex.map { case (df, i) => df.select(lit(i).as("q"),
            col("k"), col("v"), col("amt"), col("service_month")) }
          .reduce(_.union(_)).collect().groupBy(_.getInt(0)).view
          .mapValues(rs => sortedRows(rs.toSeq.map(r => Row.fromSeq(r.toSeq
            .tail)))).toMap.withDefaultValue(Nil)
        val expect = sortedRows(rows.toSeq.map { case (k, v, a, mo) =>
          Row(k.map(Long.box).orNull, v, a, mo) })
        assert(got(0) == expect, s"seed $seed op $op read")
        assert(got(1) == expect.filter(_._4 == m),
          s"seed $seed op $op month $m")
        assert(got(2) == expect.filter(_._1.exists(probe.contains)),
          s"seed $seed op $op keys $probe")
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(
        (1 to 4).map(s => scala.concurrent.Future(run(s)))),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    val secs = (System.nanoTime() - started) / 1e9
    info(f"${ops.get} ops with three checked reads each in $secs%.1f s")
    assert(ops.get == 200)
  }

  /** (k, v, amt, service_month) rows as sorted model tuples. */
  private def sortedRows(rs: Seq[Row])
      : Seq[(Option[Long], String, Double, Int)] =
    rs.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
      r.getDouble(2), r.getInt(3))).sortBy(_.toString)

  test("a key set over the literal bound applies as one sequence-conditioned anti-join") {
    val dir = s"$base/large_set"
    wipe(dir)
    val started = System.nanoTime()
    def rows(ks: Seq[Long], v: String) =
      ks.map(k => (java.lang.Long.valueOf(k), v, 2000, 1))
        .toDF("k", "v", "service_year", "service_month")
    append(spark, dir, rows(2000000L until 2000300L, "a").coalesce(1),
      statsColumns = Seq("k"))
    // the first half-million keys name ten table keys, one re-inserted
    // after this delete; the second half-million name ten more
    deleteKeysMor(spark, dir, spark.range(0L, 500000L).toDF("k")
      .union((2000000L until 2000010L).toDF("k")), key = "k")
    append(spark, dir, rows(Seq(2000005L, 3000000L), "b").coalesce(1),
      statsColumns = Seq("k"))
    append(spark, dir, Seq[(java.lang.Long, String, Int, Int)](
        (null, "n", 2000, 1)).toDF("k", "v", "service_year", "service_month"),
      statsColumns = Seq("k"))
    deleteKeysMor(spark, dir, spark.range(500000L, 1000000L).toDF("k")
      .union((2000100L until 2000110L).toDF("k")), key = "k")
    val (eq, _) = liveDeletes(spark, dir)
    assert(eq.map(_.rows).sum > 1000000L, eq)
    val df = read(spark, dir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(joins.size == 1, df.queryExecution.optimizedPlan)
    assert(joins.head.condition.exists(_.references.exists(_.name == "__seq")))
    val got = df.select("k", "v").collect().map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
    val expect = ((2000000L until 2000300L)
        .filterNot(k => k < 2000010L || (k >= 2000100L && k < 2000110L))
        .map(k => (Some(k): Option[Long], "a")) ++
      Seq((Some(2000005L), "b"), (Some(3000000L), "b"), (None, "n"))).toSet
    assert(got == expect)
    info(f"large-set path: ${(System.nanoTime() - started) / 1e9}%.1f s")
  }

  test("a table whose path holds a space keeps Bloom pruning, deleteWhere and deleteKeysMor") {
    val dir = s"$base/my table"
    wipe(dir)
    append(spark, dir, claims((0 until 30).map(i =>
        (f"K$i%04d", "b0", i * 1.0, 2000, 1 + i % 3))),
      statsColumns = Seq("claim_id"))
    buildFileBlooms(spark, dir, Seq("claim_id"))
    assert(readKeys(spark, dir, Seq("K0001", "K0015").toDF("claim_id"),
      "claim_id").count() == 2)
    assert(readWhere(spark, dir, col("claim_id") === "K0001").count() == 1)
    assert(deleteWhere(spark, dir, col("claim_amount") >= 25.0).nonEmpty)
    assert(read(spark, dir).count() == 25)
    assert(deleteKeysMor(spark, dir, Seq("K0003").toDF("claim_id")).nonEmpty)
    assert(read(spark, dir).filter(col("claim_id") === "K0003").isEmpty)
    assert(read(spark, dir).count() == 24)
    // an index whose word rows name files by another path (as indexes
    // built over such a table once did) still finds every key: a
    // covered file with no word rows stays a candidate
    val name = commitMeta(spark, dir)("bloom.index")
    val side = s"$dir/_snapshots/$name"
    val renamed = spark.read.parquet(side).withColumn("__f",
      when(col("__wi") >= 0, concat(lit("file:/elsewhere/"), col("__f")))
        .otherwise(col("__f"))).collect()
    spark.createDataFrame(renamed.toSeq.asJava, spark.read.parquet(side).schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$side-tmp")
    wipe(side)
    assert(new File(s"$side-tmp").renameTo(new File(side)))
    assert(readKeys(spark, dir, Seq("K0001", "K0015").toDF("claim_id"),
      "claim_id").count() == 2)
  }

  test("the zone probe over a local key frame runs no Spark job") {
    val dir = s"$base/local_keys"
    wipe(dir)
    (0 until 3).foreach { f =>
      append(spark, dir, claims((0 until 10).map(i =>
          (f"K$f$i%02d", "b0", i * 1.0, 2000, 1))).coalesce(1),
        statsColumns = Seq("claim_id"))
    }
    val v = latestVersion(spark, dir)
    var cands = Seq.empty[String]
    val jobs = jobsOf {
      cands = candidateFilesForKeys(spark, dir,
        Seq("K001", "K105", "K209").toDF("claim_id"), "claim_id", v)
    }
    assert(jobs == 0, s"$jobs jobs")
    assert(cands.size == 3)
  }
}
