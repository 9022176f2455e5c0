package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** Pins for the manifest-based snapshot layer: (1) copy-on-write
  * isolation — a later overwrite never perturbs an earlier version's
  * rows OR files, (2) reads come from the manifest, not the listing
  * (replaced files still on disk are invisible to the latest version),
  * (3) compaction changes file counts, never content, (4) vacuum
  * reclaims exactly the unreferenced files. The cross-engine value
  * contract is q_time_travel's DuckDB oracle.
  */
class SnapshotSpec extends SparkSpec {

  import spark.implicits._

  private val base = "target/test_snapshot"

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

  test("copy-on-write: an overwrite leaves the prior version's rows and files intact") {
    val dir = s"$base/cow"
    wipe(dir)
    assert(SnapshotTable.append(spark, dir, rows(5, 1, "b1")
      .unionByName(rows(3, 2, "b1"))) == 1)
    val v1Files = SnapshotTable.manifest(spark, dir, 1).files.toSet
    // replace month 1 entirely with different content
    assert(SnapshotTable.overwritePartitions(spark, dir,
      rows(2, 1, "b2")) == 2)
    // v1 files all still on disk, v1 rows unchanged
    v1Files.foreach(f => assert(new File(s"$dir/$f").isFile, f))
    val v1 = SnapshotTable.read(spark, dir, Some(1))
    assert(v1.count() == 8)
    assert(v1.filter(col("batch_id") =!= "b1").isEmpty)
    // v2 sees the replacement in month 1, month 2 untouched
    val v2 = SnapshotTable.read(spark, dir, Some(2))
    assert(v2.filter(col("service_month") === 1).count() == 2)
    assert(v2.filter(col("service_month") === 2).count() == 3)
    // the replaced month-1 files are on disk but NOT in v2's manifest:
    // the manifest, not the listing, is the truth
    val v2Files = SnapshotTable.manifest(spark, dir, 2).files.toSet
    val replaced = v1Files.filter(_.startsWith("service_year=2000/service_month=1/"))
    assert(replaced.nonEmpty)
    replaced.foreach(f => assert(!v2Files.contains(f), f))
  }

  test("compaction: many appended files -> targetFileCount, content identical") {
    val dir = s"$base/compact"
    wipe(dir)
    (1 to 3).foreach(i =>
      SnapshotTable.append(spark, dir, rows(4, 1, s"b$i")
        .withColumn("claim_id", concat(lit(s"a$i-"), col("claim_id")))))
    def month1Files(v: Int) = SnapshotTable.manifest(spark, dir, v).files
      .count(_.startsWith("service_year=2000/service_month=1/"))
    assert(month1Files(3) >= 3)
    val before = SnapshotTable.read(spark, dir)
      .collect().map(_.toSeq).toSet
    val v = SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1))))
    assert(month1Files(v) == 1)
    val after = SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
    assert(after == before)
    // pre-compaction version still readable (old files retained)
    assert(SnapshotTable.read(spark, dir, Some(3)).count() == 12)
  }

  test("vacuum: reclaims replaced files and orphans, keeps the retained versions readable") {
    val dir = s"$base/vacuum"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(5, 1, "b1"))
    SnapshotTable.overwritePartitions(spark, dir, rows(2, 1, "b2"))
    // orphan: a data file no manifest references (crashed write analog)
    val orphan = new File(s"$dir/service_year=2000/service_month=1/orphan.parquet")
    rows(1, 1, "bx").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/vacuum_tmp")
    val src = new File(s"$base/vacuum_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    val v1Files = SnapshotTable.manifest(spark, dir, 1).files.toSet
    val deleted = SnapshotTable.vacuum(spark, dir, retainLast = 1)
    // exactly the v1-only files + the orphan are gone
    val v2Files = SnapshotTable.manifest(spark, dir, 2).files.toSet
    assert(deleted.toSet == (v1Files -- v2Files) + orphan.getPath
      .stripPrefix(new File(dir).getPath + "/"))
    assert(!orphan.exists())
    v2Files.foreach(f => assert(new File(s"$dir/$f").isFile, f))
    assert(SnapshotTable.read(spark, dir).count() == 2)
    // v1's manifest is gone with its files
    assert(!new File(s"$dir/_snapshots/v00001.txt").exists())
  }

  test("zone maps: clustered range scan skips most files, loses no rows") {
    val dir = s"$base/skip/silver"
    wipe(s"$base/skip")
    graft.operators.SnapshotQueries.buildClusteredSilver(spark, sfDir, dir)
    val (df, total, kept) =
      SnapshotTable.planScan(spark, dir, zones = Seq(
        SnapshotTable.ZonePredicate.num("claim_amount", 1000.0, 20000.0)))
    assert(total > 0 && kept > 0)
    // clustering (8 range groups) must let the narrow band skip the
    // bulk of the files
    assert(kept * 2 <= total, s"kept=$kept of $total — zone maps useless")
    val p = col("claim_amount") >= 1000.0 && col("claim_amount") <= 20000.0
    val viaSkip = df.filter(p).count()
    val viaFull = SnapshotTable.read(spark, dir).filter(p).count()
    assert(viaSkip == viaFull && viaFull > 0)
    // a disjoint band above the data's range reads zero files
    val (_, _, none) =
      SnapshotTable.planScan(spark, dir, zones = Seq(
        SnapshotTable.ZonePredicate.num("claim_amount", 1e9, 2e9)))
    assert(none == 0)
    // every live file carries a stats row (claim_amount is never null
    // post-cleanse), so nothing rides the always-scan fallback here
    val v = SnapshotTable.latestVersion(spark, dir)
    val stats = SnapshotTable.readStats(spark, dir, v)
    SnapshotTable.manifest(spark, dir, v).files.foreach(f =>
      assert(stats.contains(("claim_amount", f)), f))
  }

  test("typed zone maps: DATE clustering skips files, loses no rows") {
    val dir = s"$base/skipdate/silver"
    wipe(s"$base/skipdate")
    graft.operators.SnapshotQueries.buildDateClusteredSilver(spark, sfDir, dir)
    val (df, total, kept) = SnapshotTable.planScan(spark, dir, zones = Seq(
      SnapshotTable.ZonePredicate.str("service_date", "1996-01-01",
        "1996-12-31")))
    assert(total > 0 && kept > 0)
    assert(kept * 2 <= total, s"kept=$kept of $total — date zones useless")
    val p = col("service_date") >= lit("1996-01-01").cast("date") &&
      col("service_date") <= lit("1996-12-31").cast("date")
    val viaSkip = df.filter(p).count()
    val viaFull = SnapshotTable.read(spark, dir).filter(p).count()
    assert(viaSkip == viaFull && viaFull > 0)
    // a band beyond the data's range reads ONLY the stat-less files
    // (the all-NULL service_date file has no zone and is always read —
    // harmless: no NULL row can match a range predicate)
    val v = SnapshotTable.latestVersion(spark, dir)
    val stats = SnapshotTable.readStats(spark, dir, v)
    val statless = SnapshotTable.manifest(spark, dir, v).files
      .count(f => !stats.contains(("service_date", f)))
    val (farDf, _, far) = SnapshotTable.planScan(spark, dir, zones = Seq(
      SnapshotTable.ZonePredicate.str("service_date", "2050-01-01",
        "2050-12-31")))
    assert(far == statless)
    assert(farDf.filter(col("service_date").isNotNull).isEmpty)
    // a numeric probe against a date-kind zone must fall back to
    // always-read (kind mismatch is never allowed to skip)
    val (_, t2, k2) =
      SnapshotTable.planScan(spark, dir, zones = Seq(
        SnapshotTable.ZonePredicate.num("service_date", 0.0, 1.0)))
    assert(k2 == t2)
  }

  test("stats survive a stats-less commit and follow compaction") {
    val dir = s"$base/statscarry"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(6, 1, "b1"),
      statsColumns = Seq("claim_amount"))
    // stats-less append: parent zone maps carried, new files unstatted
    SnapshotTable.append(spark, dir, rows(4, 2, "b2"))
    val s2 = SnapshotTable.readStats(spark, dir, 2)
    assert(s2.nonEmpty)
    // month-1 files still skippable, month-2 files always read
    val (_, total, kept) =
      SnapshotTable.planScan(spark, dir, zones = Seq(
        SnapshotTable.ZonePredicate.num("claim_amount", 100.0, 200.0)))
    val m2Files = SnapshotTable.manifest(spark, dir, 2).files
      .count(_.startsWith("service_year=2000/service_month=2/"))
    assert(kept == m2Files, s"kept=$kept expected unstatted-only=$m2Files")
    assert(kept < total)
    // compaction with stats: recomputed for the rewritten files
    val v = SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1))))
    // compactPartitions carries stats through commitStats only when
    // asked; the carried month-1 stats must be gone for dead files
    val s3 = SnapshotTable.readStats(spark, dir, v)
    s3.keys.foreach { case (_, f) =>
      assert(SnapshotTable.manifest(spark, dir, v).files.contains(f), f)
    }
  }

  test("auto-compact: manifest-only victim selection, healthy partitions untouched") {
    val dir = s"$base/autocompact"
    wipe(dir)
    (1 to 3).foreach(i =>
      SnapshotTable.append(spark, dir, rows(4, 1, s"b$i")
        .withColumn("claim_id", concat(lit(s"a$i-"), col("claim_id")))))
    SnapshotTable.append(spark, dir, rows(2, 2, "b1"))
    val counts = SnapshotTable.fileCountsByPartition(spark, dir)
    assert(counts((Some(2000), Some(1))) >= 3)
    val month2Before = SnapshotTable
      .manifest(spark, dir, SnapshotTable.latestVersion(spark, dir))
      .files.filter(_.startsWith("service_year=2000/service_month=2/"))
    val before = SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
    val victims = SnapshotTable.autoCompact(spark, dir, maxFiles = 2)
    assert(victims == Seq((Some(2000), Some(1))))
    val after = SnapshotTable.fileCountsByPartition(spark, dir)
    assert(after((Some(2000), Some(1))) == 1)
    // healthy partition's files survive in the new manifest verbatim
    val month2After = SnapshotTable
      .manifest(spark, dir, SnapshotTable.latestVersion(spark, dir))
      .files.filter(_.startsWith("service_year=2000/service_month=2/"))
    assert(month2After.sorted == month2Before.sorted)
    assert(SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
      == before)
    // healthy table: second pass is a no-commit no-op
    val v = SnapshotTable.latestVersion(spark, dir)
    assert(SnapshotTable.autoCompact(spark, dir, maxFiles = 2).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir) == v)
  }

  test("snapshot MERGE: key zones prune candidates; moves delete the old home; replay is a no-op") {
    val dir = s"$base/merge"
    wipe(dir)
    // key-clustered base with claim_id zones: K1-* in month 1, K2-* in 2
    SnapshotTable.append(spark, dir,
      rows(6, 1, "b1").unionByName(rows(4, 2, "b1"))
        .repartitionByRange(4, col("claim_id"))
        .sortWithinPartitions(col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    val v1 = SnapshotTable.latestVersion(spark, dir)
    // zone probe: a key that exists hits only files whose zone holds it;
    // a key beyond every zone hits nothing (all files are statted here)
    val hit = SnapshotTable.candidateFilesByKeyZone(spark, dir,
      Seq("K1-3").toDF("claim_id"), "claim_id", v1)
    assert(hit.nonEmpty)
    val stats = SnapshotTable.readStats(spark, dir, v1)
    hit.foreach { f =>
      val z = stats(("claim_id", f))
      assert(z.min <= "K1-3" && "K1-3" <= z.max)
    }
    assert(SnapshotTable.candidateFilesByKeyZone(spark, dir,
      Seq("ZZZ").toDF("claim_id"), "claim_id", v1).isEmpty)
    // MOVE K1-0 from month 1 to month 3 (a partition that didn't exist)
    val update = Seq(("K1-0", "b2", 99.0, 2000, 3))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    val parts = SnapshotTable.merge(spark, dir, update)
    assert(parts.toSet == Set((Some(2000), Some(3)), (Some(2000), Some(1))))
    val merged = SnapshotTable.read(spark, dir)
    assert(merged.count() == 10)
    assert(merged.filter(col("claim_id") === "K1-0" &&
      col("service_month") === 3 && col("claim_amount") === 99.0)
      .count() == 1)
    assert(merged.filter(col("claim_id") === "K1-0" &&
      col("service_month") === 1).isEmpty)
    // month-2 partition untouched: its files identical across versions
    val m2 = (f: Seq[String]) =>
      f.filter(_.startsWith("service_year=2000/service_month=2/")).toSet
    assert(m2(SnapshotTable.manifest(spark, dir, v1).files) ==
      m2(SnapshotTable.manifest(spark, dir, v1 + 1).files))
    // pre-merge table still readable (time travel)
    assert(SnapshotTable.read(spark, dir, Some(v1))
      .filter(col("claim_id") === "K1-0" && col("service_month") === 1)
      .count() == 1)
    // replaying the same batch is a no-op on content (base wins ties)
    SnapshotTable.merge(spark, dir, update)
    val replayed = SnapshotTable.read(spark, dir)
    assert(replayed.count() == 10)
    assert(replayed.filter(col("claim_id") === "K1-0" &&
      col("service_month") === 3).count() == 1)
    // move the LAST month-3 row out again -> month 3 has no files
    val back = Seq(("K1-0", "b3", 5.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    SnapshotTable.merge(spark, dir, back)
    val vEnd = SnapshotTable.latestVersion(spark, dir)
    assert(!SnapshotTable.manifest(spark, dir, vEnd).files
      .exists(_.startsWith("service_year=2000/service_month=3/")))
  }

  test("snapshot DELETE: zone-pruned erasure; absent keys commit nothing; vacuum is the forget") {
    val dir = s"$base/del"
    wipe(dir)
    SnapshotTable.append(spark, dir,
      rows(5, 1, "b1").unionByName(rows(3, 2, "b1"))
        .repartitionByRange(4, col("claim_id"))
        .sortWithinPartitions(col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    // absent key: no candidates, no commit
    assert(SnapshotTable.deleteKeys(spark, dir,
      Seq("ZZZ").toDF("claim_id")).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir) == 1)
    // delete two month-1 rows; month 2 untouched (byte-identical files)
    val parts = SnapshotTable.deleteKeys(spark, dir,
      Seq("K1-0", "K1-3").toDF("claim_id"))
    assert(parts == Seq((Some(2000), Some(1))))
    val v2 = SnapshotTable.read(spark, dir)
    assert(v2.count() == 6)
    assert(v2.filter(col("claim_id").isin("K1-0", "K1-3")).isEmpty)
    val m2 = (f: Seq[String]) =>
      f.filter(_.startsWith("service_year=2000/service_month=2/")).toSet
    assert(m2(SnapshotTable.manifest(spark, dir, 1).files) ==
      m2(SnapshotTable.manifest(spark, dir, 2).files))
    // pre-delete version still holds the rows — vacuum is the forget
    assert(SnapshotTable.read(spark, dir, Some(1))
      .filter(col("claim_id").isin("K1-0", "K1-3")).count() == 2)
    SnapshotTable.vacuum(spark, dir)
    intercept[Exception] {
      SnapshotTable.read(spark, dir, Some(1)).count()
    }
    // deleting a whole partition removes its files from the manifest
    SnapshotTable.deleteKeys(spark, dir,
      (0 until 3).map(i => s"K2-$i").toDF("claim_id"))
    assert(!SnapshotTable.manifest(spark, dir,
        SnapshotTable.latestVersion(spark, dir)).files
      .exists(_.startsWith("service_year=2000/service_month=2/")))
  }

  test("multi-writer CAS: concurrent appenders all commit, no lost update") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dir = s"$base/cas"
    wipe(dir)
    val writers = 4
    val each = 3
    // every writer races the manifest CAS for each of its commits
    val fs = (0 until writers).map { w =>
      Future((0 until each).map(i =>
        SnapshotTable.append(spark, dir, rows(2, w + 1, s"w$w-b$i"))))
    }
    val versions = Await.result(Future.sequence(fs), 5.minutes).flatten
    val n = writers * each
    // one distinct version per commit, none lost
    assert(versions.toSet == (1 to n).toSet)
    assert(SnapshotTable.latestVersion(spark, dir) == n)
    // linear parent chain; appends only grow the live set monotonically
    (1 to n).foreach { v =>
      val m = SnapshotTable.manifest(spark, dir, v)
      assert(m.parent == v - 1)
      val prev = if (v == 1) Set.empty[String]
        else SnapshotTable.manifest(spark, dir, v - 1).files.toSet
      assert(prev.subsetOf(m.files.toSet), s"v$v dropped a parent file")
      assert(m.files.size > prev.size, s"v$v added no file")
    }
    // no lost rows, every commit's batch visible
    val all = SnapshotTable.read(spark, dir)
    assert(all.count() == n * 2L)
    assert(all.select("batch_id").distinct().count() == n.toLong)
  }

  test("vacuum reclaims a crashed writer's staging dir and tmp manifests") {
    val dir = s"$base/crash"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(3, 1, "b1"))
    // simulate a writer that died mid-write: staged files + a tmp manifest
    val staged = new File(s"$dir/_staging/dead-writer/service_year=2000/" +
      "service_month=1")
    staged.mkdirs()
    new File(staged, "part-dead.parquet").createNewFile()
    new File(s"$dir/_snapshots/_tmp_dead.txt").createNewFile()
    // the junk is invisible to readers
    assert(SnapshotTable.read(spark, dir).count() == 3)
    SnapshotTable.vacuum(spark, dir)
    assert(!new File(s"$dir/_staging/dead-writer").exists())
    assert(!new File(s"$dir/_snapshots/_tmp_dead.txt").exists())
    // the live snapshot survives vacuum intact
    assert(SnapshotTable.read(spark, dir).count() == 3)
  }

  test("schema evolution: a column appended in v2 reads as NULL for v1 files") {
    val dir = s"$base/evolve"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(3, 1, "b1"))
    SnapshotTable.append(spark, dir,
      rows(2, 2, "b2").withColumn("adjudicator", lit("auto")))
    val v2 = SnapshotTable.read(spark, dir, mergeSchema = true)
    assert(v2.columns.contains("adjudicator"))
    assert(v2.filter(col("adjudicator").isNull).count() == 3)
    assert(v2.filter(col("adjudicator") === "auto").count() == 2)
    // v1 pinned read never sees the later column
    assert(!SnapshotTable.read(spark, dir, Some(1), mergeSchema = true)
      .columns.contains("adjudicator"))
  }

  test("time-travel fixture: v1 row count equals base, v2 merges corrections") {
    val dir = s"$base/tt"
    wipe(dir)
    graft.operators.SnapshotQueries.runSnapshotFixture(spark, sfDir, s"$dir/silver")
    val v1 = SnapshotTable.read(spark, s"$dir/silver", Some(1))
    val v2 = SnapshotTable.read(spark, s"$dir/silver", Some(2))
    assert(v1.filter(col("batch_id") =!= "20240101_000000").isEmpty)
    // v2: no key duplicated, corrections present
    assert(v2.groupBy("claim_id").count().filter(col("count") > 1).isEmpty)
    assert(v2.filter(col("batch_id") === "20240102_000000").limit(1)
      .count() == 1)
    assert(v2.count() > v1.count()) // inserts landed
  }

  test("manifest reads plan without a listing job and match a listed read file for file") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = s"$base/listing_free"
    wipe(dir)
    // rebalance off + spark.range's contiguous slices: every task holds
    // every month, so each writes one file per month — 36 per month in
    // v1, 34 more per month in v2, well over Spark's 32-path
    // parallel-listing threshold for every read below
    def spread(from: Long, tasks: Int, months: Int) =
      spark.range(from, from + tasks * months * 2, 1, tasks).select(
        concat(lit("K"), col("id") % months + 1, lit("-"), col("id"))
          .as("claim_id"),
        lit(s"b$from").as("batch_id"), col("id").cast("double")
          .as("claim_amount"), lit(2000).as("service_year"),
        (col("id") % months + 1).cast("int").as("service_month"))
    SnapshotTable.append(spark, dir, spread(0, 36, 3), rebalance = false)
    SnapshotTable.append(spark, dir, spread(1000, 34, 2), rebalance = false)
    val doomed = Seq("K1-0", "K3-5", "K1-1000")
    assert(SnapshotTable.deleteKeysMor(spark, dir,
      doomed.toDF("claim_id")).contains(3))
    assert(SnapshotTable.liveDeletes(spark, dir)._1.nonEmpty)
    val live = SnapshotTable.manifest(spark, dir, 3).files
    assert(live.size == 36 * 3 + 34 * 2, live.size)
    val rootSchema = SnapshotTable.tableSchema(spark, dir).get
    val visible = !col("claim_id").isin(doomed: _*)
    def listed(files: Seq[String]): DataFrame =
      spark.read.option("basePath", dir).schema(rootSchema)
        .parquet(files.map(f => s"$dir/$f"): _*)
    def check(name: String, build: => DataFrame, files: Seq[String],
        expected: DataFrame => DataFrame): Unit = {
      assert(files.size > 32, s"$name names only ${files.size} files")
      val jobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT
      val before = jobs.getCount
      val df = build
      val got = df.collect()
      assert(jobs.getCount == before, s"$name ran a listing job")
      val ref = expected(listed(files))
      assert(df.schema == ref.schema, s"$name schema")
      // the delete sidecar the read anti-joins is an input file too
      val dataFiles = df.inputFiles.filterNot(_.contains("/_snapshots/"))
      assert(dataFiles.toSet == ref.inputFiles.toSet, s"$name files")
      assert(dataFiles.length == files.size, s"$name file count")
      assert(got.map(_.toString).sorted.toSeq ==
        ref.collect().map(_.toString).sorted.toSeq, s"$name rows")
      // `_metadata` does not resolve above the delete anti-join, so it
      // is read off the plan's data-file relation itself
      val scans = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation
      }.collect {
        case h: HadoopFsRelation if !h.location.rootPaths
            .exists(_.toString.contains("/_snapshots/")) => h
      }
      assert(scans.size == 1, s"$name scans")
      val meta = spark.baseRelationToDataFrame(scans.head)
        .select(col("_metadata.file_path"), col("_metadata.file_size"),
          col("_metadata.file_modification_time"))
        .distinct().collect()
      assert(meta.length == files.size, s"$name metadata rows")
      meta.foreach { r =>
        val f = new File(new java.net.URI(r.getString(0)))
        assert(r.getLong(1) == f.length(), s"$name size of $f")
        assert(r.getTimestamp(2).getTime == f.lastModified(),
          s"$name mtime of $f")
      }
    }
    check("read", SnapshotTable.read(spark, dir), live,
      _.filter(visible))
    val month1 = col("service_year") === 2000 && col("service_month") === 1
    check("readWhere", SnapshotTable.readWhere(spark, dir, month1),
      live.filter(_.startsWith("service_year=2000/service_month=1/")),
      _.filter(month1 && visible))
    check("readFilesAdded", SnapshotTable.readFilesAdded(spark, dir, 1, 3),
      live.filterNot(SnapshotTable.manifest(spark, dir, 1).files.toSet),
      _.filter(visible))
    val keys = Seq("K2-1", "K3-5", "K2-1001", "K1-3").toDF("claim_id")
    check("readKeys", SnapshotTable.readKeys(spark, dir, keys, "claim_id"),
      SnapshotTable.candidateFilesForKeys(spark, dir, keys, "claim_id", 3),
      _.join(keys, Seq("claim_id"), "leftsemi").filter(visible))
    assert(SnapshotTable.readKeys(spark, dir, keys, "claim_id").count() == 3)
  }

  test("a manifest-named file missing from disk fails the read with its path") {
    val dir = s"$base/missing_file"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(4, 1, "b1").unionByName(rows(4, 2, "b1")))
    val rel = SnapshotTable.manifest(spark, dir, 1).files.head
    assert(new File(s"$dir/$rel").delete())
    val e = intercept[java.io.FileNotFoundException] {
      SnapshotTable.read(spark, dir)
    }
    assert(e.getMessage.contains(rel), e.getMessage)
  }
}
