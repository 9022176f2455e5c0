package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** Round-14 pins for FILE-granular copy-on-write and MERGE-ON-READ
  * equality deletes — the round-13 perf-weak (partition-granularity
  * row-level DML) closed:
  *
  *  (a) a k-key merge-on-read delete commits ZERO rewritten data files
  *      (one delete file, one metadata root);
  *  (b) a copy-on-write merge/delete rewrites ONLY the files that hold
  *      an affected key — untouched same-partition files survive by
  *      reference, byte-identical;
  *  (c) compaction folds a live delete into data: reads equal before
  *      and after, and the obsolete delete ref auto-drops from the
  *      root (per-chunk min data sequence);
  *  plus the sequence semantics that make deletes safe under
  *  concurrency: a key re-inserted AFTER the delete survives, time
  *  travel to the pre-delete version still shows the rows, metadata
  *  row counts go honest-unknown while a delete is live, CDC reports
  *  delete-affected partitions, and vacuum reclaims unreferenced
  *  delete files.
  */
class SnapshotMorSpec extends SparkSpec {

  import spark.implicits._

  private val base = "target/test_snapshot_mor"

  private def wipe(dir: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete()
    }
    val root = new File(dir)
    if (root.exists()) del(root)
  }

  private def keyed(prefix: String, n: Int, month: Int, batch: String) =
    (0 until n).map(i => (f"$prefix$i%02d", batch, i * 1.0, 2000, month))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
      .coalesce(1) // one file per append → known file↔key-range map

  /** Two files in month 1 (disjoint key ranges A…, B…), one in month 2. */
  private def threeFileTable(dir: String): Unit = {
    SnapshotTable.append(spark, dir, keyed("A", 10, 1, "b1"),
      statsColumns = Seq("claim_id"))
    SnapshotTable.append(spark, dir, keyed("B", 10, 1, "b2"),
      statsColumns = Seq("claim_id"))
    SnapshotTable.append(spark, dir, keyed("C", 10, 2, "b3"),
      statsColumns = Seq("claim_id"))
  }

  private def files(dir: String): Set[String] =
    SnapshotTable.manifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir)).files.toSet

  test("(a) merge-on-read delete: zero data files rewritten, one metadata commit, rows gone from the read") {
    val dir = s"$base/mor_basic"
    wipe(dir)
    threeFileTable(dir)
    val before = files(dir)
    val vBefore = SnapshotTable.latestVersion(spark, dir)
    val doomed = Seq("A03", "A05", "B07").toDF("claim_id")
    val v = SnapshotTable.deleteKeysMor(spark, dir, doomed)
    assert(v.contains(vBefore + 1))
    // ZERO data files rewritten or removed — the file set is identical
    assert(files(dir) == before,
      "a MoR delete must not touch the data file set")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 27)
    assert(now.filter(col("claim_id").isin("A03", "A05", "B07")).isEmpty)
    // time travel to the pre-delete version still shows the rows
    assert(SnapshotTable.read(spark, dir, Some(vBefore))
      .filter(col("claim_id").isin("A03", "A05", "B07")).count() == 3)
    // metadata row counts go honest-unknown while the delete is live
    assert(SnapshotTable.rowCount(spark, dir).isEmpty)
    assert(SnapshotTable.rowCountsByPartition(spark, dir).isEmpty)
    // a no-op delete (keys provably absent by zone probe) commits nothing
    val vNow = SnapshotTable.latestVersion(spark, dir)
    assert(SnapshotTable.deleteKeysMor(spark, dir,
      Seq("Z99").toDF("claim_id")).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir) == vNow)
  }

  test("sequence semantics: a key re-inserted after the delete survives; the delete still erases the old row") {
    val dir = s"$base/mor_reinsert"
    wipe(dir)
    threeFileTable(dir)
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A03").toDF("claim_id"))
    // re-insert the key with a NEW row — its file carries a higher data
    // sequence than the delete, so the delete must not reach it
    SnapshotTable.append(spark, dir, keyed("A", 4, 1, "fresh")
      .filter(col("claim_id") === "A03"), statsColumns = Seq("claim_id"))
    val rows = SnapshotTable.read(spark, dir)
      .filter(col("claim_id") === "A03").collect()
    assert(rows.length == 1, s"exactly the re-inserted row: ${rows.toSeq}")
    assert(rows.head.getAs[String]("batch_id") == "fresh")
  }

  test("(b) file-granular copy-on-write delete: only the key-holding file rewrites; same-partition sibling survives by reference") {
    val dir = s"$base/cow_delete"
    wipe(dir)
    threeFileTable(dir)
    val before = files(dir)
    val fileB = before.find(_.contains("service_month=1")).get // any m1
    // locate the A-file and B-file by reading each
    val byFile = before.filter(_.contains("service_month=1")).map { f =>
      val first = spark.read.parquet(s"$dir/$f")
        .select(col("claim_id")).head().getString(0)
      (f, first.take(1))
    }.toMap
    val aFile = byFile.collectFirst { case (f, "A") => f }.get
    val bFile = byFile.collectFirst { case (f, "B") => f }.get
    val bBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$bFile"))
    SnapshotTable.deleteKeys(spark, dir, Seq("A03").toDF("claim_id"))
    val after = files(dir)
    // the sibling B-file (same partition) is still REFERENCED and its
    // bytes never moved; the A-file left the live set
    assert(after.contains(bFile),
      "untouched same-partition file must carry by reference")
    assert(!after.contains(aFile), "the key-holding file must rewrite")
    assert(after.contains(before.find(_.contains("service_month=2")).get))
    assert(java.util.Arrays.equals(bBytes,
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$bFile"))),
      "carried file must be byte-identical")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 29)
    assert(now.filter(col("claim_id") === "A03").isEmpty)
    assert(fileB.nonEmpty) // silence unused warning paranoia
  }

  test("(b) file-granular copy-on-write merge: only key-holding files rewrite; new keys append without touching siblings") {
    val dir = s"$base/cow_merge"
    wipe(dir)
    threeFileTable(dir)
    val before = files(dir)
    val byFile = before.filter(_.contains("service_month=1")).map { f =>
      (spark.read.parquet(s"$dir/$f").select(col("claim_id"))
        .head().getString(0).take(1), f)
    }.toMap
    // update one A-key (correction) and insert one brand-new key
    val updates = Seq(
      ("A03", "b9", 999.0, 2000, 1),
      ("N00", "b9", 5.0, 2000, 2))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    val parts = SnapshotTable.merge(spark, dir, updates)
    assert(parts.toSet == Set((Some(2000), Some(1)), (Some(2000), Some(2))))
    val after = files(dir)
    assert(after.contains(byFile("B")),
      "the B-file holds no update key — it must carry by reference")
    assert(!after.contains(byFile("A")), "the A-file must rewrite")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 31)
    assert(now.filter(col("claim_id") === "A03")
      .head().getAs[Double]("claim_amount") == 999.0)
    assert(now.filter(col("claim_id") === "N00").count() == 1)
    // month-2's original file was NOT rewritten by the new-key insert
    assert(after.contains(before.find(_.contains("service_month=2")).get),
      "an insert into a partition must not rewrite its existing files")
  }

  test("(c) compaction folds the delete into data: reads equal, the obsolete delete ref auto-drops, counts exact again, vacuum reclaims the key set") {
    val dir = s"$base/mor_fold"
    wipe(dir)
    threeFileTable(dir)
    SnapshotTable.deleteKeysMor(spark, dir,
      Seq("A03", "C02").toDF("claim_id"))
    val preCompact = SnapshotTable.read(spark, dir)
      .collect().map(_.toSeq).toSet
    // fold: rewrite both affected partitions (reads apply the delete,
    // new files carry a sequence beyond it)
    SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1)), (Some(2000), Some(2))))
    assert(SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
      == preCompact, "post-compaction reads must equal pre-compaction")
    // the delete ref is obsolete (every live chunk's minSeq outran it)
    // and auto-dropped, so metadata row counts are exact again
    assert(SnapshotTable.rowCount(spark, dir).contains(28L))
    // vacuum reclaims the now-unreferenced delete key set
    SnapshotTable.vacuum(spark, dir, retainLast = 1)
    val delRoot = new File(s"$dir/_snapshots/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty,
      "vacuum must reclaim unreferenced delete files")
    assert(SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
      == preCompact)
  }

  test("CDC: a merge-on-read delete marks the partitions its sequence reaches as changed") {
    val dir = s"$base/mor_cdc"
    wipe(dir)
    threeFileTable(dir)
    val v0 = SnapshotTable.latestVersion(spark, dir)
    val v1 = SnapshotTable.deleteKeysMor(spark, dir,
      Seq("A03").toDF("claim_id")).get
    // no file changed, but month-1 and month-2 files are within the
    // delete's sequence reach → both report dirty (over-approximation
    // is the documented contract; under-reporting would lose rows)
    val changed = SnapshotTable.changedPartitionsBetween(spark, dir, v0, v1)
    assert(changed.toSet == Set((Some(2000), Some(1)), (Some(2000), Some(2))))
    // and a later append is NOT retroactively dirtied by the old delete
    val v2 = SnapshotTable.append(spark, dir, keyed("D", 3, 3, "b4"))
    assert(SnapshotTable.changedPartitionsBetween(spark, dir, v1, v2)
      .toSet == Set((Some(2000), Some(3))))
  }

  test("mergeMor: one commit upserts rows with zero reads and zero rewrites; replay converges; visibility is atomic") {
    val dir = s"$base/merge_mor"
    wipe(dir)
    threeFileTable(dir)
    val before = files(dir)
    val vBefore = SnapshotTable.latestVersion(spark, dir)
    // one correction (A03 restated) + one brand-new key, cross-partition
    val updates = Seq(
      ("A03", "b9", 999.0, 2000, 1),
      ("N00", "b9", 5.0, 2000, 2))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    val v = SnapshotTable.mergeMor(spark, dir, updates)
    assert(v == vBefore + 1, "exactly one commit")
    // zero rewrites: every pre-merge file still referenced
    assert(before.subsetOf(files(dir)),
      "mergeMor must not rewrite or drop any existing file")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 31)
    assert(now.filter(col("claim_id") === "A03").collect().toSeq
      .map(r => (r.getAs[String]("batch_id"),
        r.getAs[Double]("claim_amount"))) == Seq(("b9", 999.0)))
    assert(now.filter(col("claim_id") === "N00").count() == 1)
    // ATOMIC visibility: the pre-merge version still serves the OLD
    // row; no version exists where A03 is absent or doubled
    assert(SnapshotTable.read(spark, dir, Some(vBefore))
      .filter(col("claim_id") === "A03").head()
      .getAs[String]("batch_id") == "b1")
    // replay converges: applying the same batch again yields the same
    // table content (the first update copy is deleted by the second)
    SnapshotTable.mergeMor(spark, dir, updates)
    val again = SnapshotTable.read(spark, dir)
    assert(again.count() == 31)
    assert(again.filter(col("claim_id") === "A03").count() == 1)
    // and compaction folds everything away, counts exact again
    SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1)), (Some(2000), Some(2))))
    assert(SnapshotTable.rowCount(spark, dir).contains(31L))
    assert(SnapshotTable.read(spark, dir)
      .filter(col("claim_id") === "A03").head()
      .getAs[Double]("claim_amount") == 999.0)
  }

  test("deleteWhere (positional/DV): predicate rows vanish with zero rewrites; later matching appends survive; fold restores exact counts") {
    val dir = s"$base/del_where"
    wipe(dir)
    threeFileTable(dir)
    val before = files(dir)
    val vBefore = SnapshotTable.latestVersion(spark, dir)
    // amounts are i*1.0 per file (0..9): >= 7.0 matches 3 rows per file
    val v = SnapshotTable.deleteWhere(spark, dir,
      col("claim_amount") >= 7.0)
    assert(v.contains(vBefore + 1))
    assert(files(dir) == before,
      "a positional delete must not touch the data file set")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 30 - 9)
    assert(now.filter(col("claim_amount") >= 7.0).isEmpty)
    // time travel still shows the purged rows; counts honest-unknown
    assert(SnapshotTable.read(spark, dir, Some(vBefore))
      .filter(col("claim_amount") >= 7.0).count() == 9)
    assert(SnapshotTable.rowCount(spark, dir).isEmpty)
    // a LATER append of matching rows is untouched (the delete applies
    // to the snapshot it read — positions, not predicates, persist)
    SnapshotTable.append(spark, dir, keyed("Z", 9, 1, "late"))
    assert(SnapshotTable.read(spark, dir)
      .filter(col("claim_amount") >= 7.0).count() == 2) // Z07, Z08
    // no-match predicate: no commit
    val vNow = SnapshotTable.latestVersion(spark, dir)
    assert(SnapshotTable.deleteWhere(spark, dir,
      col("claim_amount") >= 999.0).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir) == vNow)
    // compaction folds the DV away; counts exact again, content stable
    val preFold = SnapshotTable.read(spark, dir)
      .collect().map(_.toSeq).toSet
    SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1)), (Some(2000), Some(2))))
    assert(SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet
      == preFold)
    assert(SnapshotTable.rowCount(spark, dir).contains(30L - 9 + 9))
    SnapshotTable.vacuum(spark, dir, retainLast = 1)
    val delRoot = new java.io.File(s"$dir/_snapshots/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty)
  }

  test("deleteWhere under colliding part names: one write job spanning partitions x range tasks deletes exactly the matches") {
    val dir = s"$base/del_where_collide"
    wipe(dir)
    // ONE append whose staged write fans 4 range tasks over 3 months —
    // each task reuses ITS part name in every month dir, the exact
    // name-collision shape that over-deleted before round 14's
    // relative-path DV addressing (sf0.01 verify caught it)
    val df = (0 until 1200).map { i =>
      (f"K$i%05d", "b1", (i % 100) * 1.0, 2000, 1 + i % 3)
    }.toDF("claim_id", "batch_id", "claim_amount", "service_year",
      "service_month")
    SnapshotTable.append(spark, dir,
      df.repartitionByRange(4, col("claim_id")), rebalance = false)
    val nFiles = SnapshotTable.manifest(spark, dir, 1).files.size
    assert(nFiles >= 12, s"need the fan-out shape: $nFiles files")
    SnapshotTable.deleteWhere(spark, dir, col("claim_amount") >= 90.0)
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 1200 - 120,
      "exactly the matching rows must vanish — no cross-file collateral")
    assert(now.filter(col("claim_amount") >= 90.0).isEmpty)
    assert(now.filter(col("claim_amount") === 89.0).count() == 12)
  }

  test("positional + equality deletes compose on one table") {
    val dir = s"$base/both_kinds"
    wipe(dir)
    threeFileTable(dir)
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A03").toDF("claim_id"))
    SnapshotTable.deleteWhere(spark, dir, col("claim_amount") >= 9.0)
    val now = SnapshotTable.read(spark, dir)
    // A03 by key (-1); A09/B09/C09 by predicate (-3)
    assert(now.count() == 30 - 1 - 3)
    assert(now.filter(col("claim_id") === "A03").isEmpty)
    assert(now.filter(col("claim_amount") >= 9.0).isEmpty)
  }

  test("sustained mergeMor stream with the debt policy self-compacts: refs fold without a manual compact, content exact") {
    val dir = s"$base/mor_debt_policy"
    wipe(dir)
    SnapshotTable.append(spark, dir, keyed("A", 20, 1, "b0"),
      statsColumns = Seq("claim_id"))
    var foldedDuringStream = false
    (1 to 6).foreach { i =>
      val upd = (0 until 4).map(k =>
          (f"A$k%02d", s"b$i", 100.0 * i + k, 2000, 1))
        .toDF("claim_id", "batch_id", "claim_amount", "service_year",
          "service_month")
      // the ratio trips once accumulated delete rows exceed 20% of the
      // partition's rows — no compactPartitions call anywhere in sight
      SnapshotTable.mergeMor(spark, dir, upd, debtRatio = Some(0.2))
      if (SnapshotTable.liveDeletes(spark, dir) == ((Nil, Nil)))
        foldedDuringStream = true
    }
    assert(foldedDuringStream,
      "the policy must fold the delete debt during the stream")
    val out = SnapshotTable.read(spark, dir)
    assert(out.count() == 20, "restating upserts must not change row count")
    val a0 = out.filter(col("claim_id") === "A00").collect()
    assert(a0.length == 1 && a0.head.getAs[String]("batch_id") == "b6",
      s"latest batch must win per key, got ${a0.toSeq}")
    assert(out.filter(col("claim_id") === "A07")
      .head().getAs[String]("batch_id") == "b0",
      "untouched keys keep their original row")
  }

  test("consolidatePosDeletes folds the DV sidecars into one ref; reads identical; dead positions drop") {
    val dir = s"$base/dv_consolidate"
    wipe(dir)
    SnapshotTable.append(spark, dir, keyed("A", 10, 1, "b1"))
    SnapshotTable.append(spark, dir, keyed("B", 10, 2, "b2"))
    (1 to 3).foreach(a => SnapshotTable.deleteWhere(spark, dir,
      col("claim_amount") === a * 1.0))
    assert(SnapshotTable.liveDeletes(spark, dir)._2.size == 3)
    val before = SnapshotTable.read(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(before.size == 14) // 20 - (amounts 1,2,3) x 2 partitions
    assert(SnapshotTable.consolidatePosDeletes(spark, dir).nonEmpty)
    val (eqRefs, posRefs) = SnapshotTable.liveDeletes(spark, dir)
    assert(eqRefs.isEmpty && posRefs.size == 1 && posRefs.head.rows == 6,
      s"3 refs must fold into one carrying all 6 positions: $posRefs")
    assert(SnapshotTable.read(spark, dir)
      .collect().map(_.toSeq).toSet == before,
      "consolidation must not change a single visible row")
    // fewer than two refs → nothing to fold
    assert(SnapshotTable.consolidatePosDeletes(spark, dir).isEmpty)
    // positions whose file left the live set are dead weight — a later
    // consolidation drops them: compact month 1 (its 3 positions fold
    // into data), purge one more amount, consolidate again
    SnapshotTable.compactPartitions(spark, dir, Seq((Some(2000), Some(1))))
    SnapshotTable.deleteWhere(spark, dir, col("claim_amount") === 4.0)
    assert(SnapshotTable.consolidatePosDeletes(spark, dir).nonEmpty)
    val posNow = SnapshotTable.liveDeletes(spark, dir)._2
    assert(posNow.size == 1 && posNow.head.rows == 5,
      s"month-1's 3 dead positions must drop (3 live month-2 + 2 new): " +
        s"$posNow")
    assert(SnapshotTable.read(spark, dir).count() == 12) // 20 - 4x2
  }

  test("changeRowsBetween: exact insert/delete markers, pre-images by time travel, rewrites fail loudly") {
    val dir = s"$base/change_feed"
    wipe(dir)
    threeFileTable(dir) // v1..v3: A00-09 + B00-09 (m1), C00-09 (m2)
    // v4: mergeMor restates A03 and inserts D00
    val upd = Seq(("A03", "b9", 999.0, 2000, 1), ("D00", "b9", 7.0, 2000, 2))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    SnapshotTable.mergeMor(spark, dir, upd)
    // v5: DV purge of every amount == 5.0 (A05, B05, C05)
    SnapshotTable.deleteWhere(spark, dir, col("claim_amount") === 5.0)
    val feed = SnapshotTable.changeRowsBetween(spark, dir, 3, 5)
      .select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("_change_type"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getString(3))).toSet
    assert(feed == Set(
      ("A03", "b9", 999.0, "insert"), ("D00", "b9", 7.0, "insert"),
      ("A03", "b1", 3.0, "delete"), // pre-image of the restated key
      ("A05", "b1", 5.0, "delete"), ("B05", "b2", 5.0, "delete"),
      ("C05", "b3", 5.0, "delete")), s"got $feed")
    // a key deleted and re-inserted in-window: one delete of the OLD
    // row, one insert of the NEW — exact CDC, no conflation
    SnapshotTable.deleteKeysMor(spark, dir, Seq("A07").toDF("claim_id"))
    SnapshotTable.append(spark, dir, Seq(("A07", "fresh", 70.0, 2000, 1))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month"))
    val feed2 = SnapshotTable.changeRowsBetween(spark, dir, 5, 7)
      .select(col("claim_id"), col("batch_id"), col("_change_type"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2))).toSet
    assert(feed2 == Set(("A07", "b1", "delete"), ("A07", "fresh", "insert")),
      s"got $feed2")
    // a rewrite in range has no row-level delta — loud, never wrong
    SnapshotTable.compactPartitions(spark, dir, Seq((Some(2000), Some(1))))
    val ex = intercept[UnsupportedOperationException] {
      SnapshotTable.changeRowsBetween(spark, dir, 5,
        SnapshotTable.latestVersion(spark, dir))
    }
    assert(ex.getMessage.contains("row-level delta"))
  }

  test("deletes survive tier merges and manifest compaction (sequences travel with their chunks)") {
    val dir = s"$base/mor_tiers"
    wipe(dir)
    // enough commits to force tier merging, then a MoR delete, then
    // more commits → the delete must still apply through merged chunks
    (1 to 12).foreach(m => SnapshotTable.append(spark, dir,
      keyed(s"K$m-", 4, 1 + (m % 3), s"b$m"), statsColumns = Seq("claim_id")))
    SnapshotTable.deleteKeysMor(spark, dir,
      Seq("K3-01", "K7-02").toDF("claim_id"))
    (13 to 20).foreach(m => SnapshotTable.append(spark, dir,
      keyed(s"K$m-", 4, 1 + (m % 3), s"b$m"), statsColumns = Seq("claim_id")))
    SnapshotTable.compactManifests(spark, dir, targetChunks = 2)
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 20 * 4 - 2)
    assert(now.filter(col("claim_id").isin("K3-01", "K7-02")).isEmpty,
      "the delete must keep applying through merged/compacted manifests")
  }

  test("copy-on-write merge and deleteKeys compose with live merge-on-read deletes: content equals a model") {
    val dir = s"$base/cow_after_mor"
    wipe(dir)
    threeFileTable(dir)
    def claims(cs: (String, String, Double, Int, Int)*) = cs.toDF("claim_id", "batch_id",
      "claim_amount", "service_year", "service_month")
    var model: Map[String, (String, String, Double, Int, Int)] =
      Seq(("A", "b1", 1), ("B", "b2", 1), ("C", "b3", 2)).flatMap {
        case (p, b, m) => (0 until 10).map(i =>
          f"$p$i%02d" -> ((f"$p$i%02d", b, i * 1.0, 2000, m)))
      }.toMap
    def upsert(cs: (String, String, Double, Int, Int)*): Unit = model ++= cs.map(c => c._1 -> c)
    // merge-on-read: an equality delete (A03's restatement) and a
    // positional one (B05) go live before any copy-on-write DML
    val morRows = Seq(("A03", "b9", 999.0, 2000, 1),
      ("N00", "b9", 5.0, 2000, 2))
    SnapshotTable.mergeMor(spark, dir, claims(morRows: _*))
    upsert(morRows: _*)
    SnapshotTable.deleteWhere(spark, dir, col("claim_id") === "B05")
    model -= "B05"
    // copy-on-write merge touching the mergeMor file (A03), the
    // equality-delete-reached A-file (A05), the positionally-deleted
    // B-file (B02), plus one new key
    val cowRows = Seq(("A03", "c1", 333.0, 2000, 1),
      ("A05", "c1", 55.0, 2000, 1), ("B02", "c1", 22.0, 2000, 1),
      ("M00", "c1", 1.0, 2000, 2))
    SnapshotTable.merge(spark, dir, claims(cowRows: _*))
    upsert(cowRows: _*)
    SnapshotTable.deleteKeys(spark, dir,
      Seq("A07", "N00", "C01", "B05").toDF("claim_id"))
    model --= Seq("A07", "N00", "C01")
    val got = SnapshotTable.read(spark, dir)
      .select("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
      .as[(String, String, Double, Int, Int)].collect()
    assert(got.length == model.size, "no duplicate or resurrected key")
    assert(got.toSet == model.values.toSet)
  }
}
