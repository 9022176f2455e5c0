package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotCatalog, SnapshotConflictException, SnapshotTable}

/** Round-15 pins for the round-14 ADVICE findings — each test is the
  * exact failure scenario described, now impossible:
  *
  *  1. a copy-on-write rewrite (compact/merge/delete/z-order) racing a
  *     merge-on-read delete ABORTS instead of resurrecting the deleted
  *     rows (the delete changes no files, so the file-set conflict
  *     check alone could not see it — Iceberg's validateNoNewDeleteFiles
  *     equivalent)
  *  2. deleteWhere's recorded positions are validated against the
  *     WINNING parent inside the CAS loop: a concurrent rewrite of an
  *     addressed file aborts the delete instead of committing an
  *     incomplete one
  *  3. a catalog WAP rollback aborts when a concurrent transaction
  *     committed between the audit failure and the rollback (the
  *     wholesale pin restore would silently revert/drop its pins)
  *  4. mergeMor with an empty or all-null-key batch commits the rows
  *     alone — no rows=0 delete ref taxing every later read
  *  5. an append onto a legacy z-ordered root (sortorder present,
  *     bounds absent) passes through unchanged instead of paying a
  *     full shuffle that buckets every row to z=0
  */
class Round15FixesSpec extends SparkSpec {

  import spark.implicits._

  private val base = "target/test_round15_fixes"

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

  test("a COW rewrite racing a MoR delete aborts instead of resurrecting the deleted rows") {
    val dir = s"$base/resurrect"
    wipe(dir)
    SnapshotTable.append(spark, dir,
      rows(6, 1, "b1").unionByName(rows(4, 2, "b1")))
    // the rewriter reads at v1 (pre-delete rows visible)...
    val preDelete = SnapshotTable.read(spark, dir, Some(1))
      .filter(col("service_month") === 1)
    // ...then an equality delete commits (changes NO files, so the
    // file-set conflict check alone would let the rewrite through)
    SnapshotTable.deleteKeysMor(spark, dir,
      Seq("K1-0").toDF("claim_id"))
    assert(SnapshotTable.read(spark, dir)
      .filter(col("claim_id") === "K1-0").count() == 0)
    // the stale rewrite would republish K1-0 at seq parent+1, beyond
    // the delete's scope — it must abort
    intercept[SnapshotConflictException] {
      SnapshotTable.overwritePartitions(spark, dir, preDelete,
        Some(Seq((Some(2000), Some(1)))), readVersion = Some(1))
    }
    assert(SnapshotTable.read(spark, dir)
      .filter(col("claim_id") === "K1-0").count() == 0,
      "the committed erasure must survive the racing rewrite")
    // a rewrite computed against the POST-delete snapshot is the
    // legitimate path: it folds the delete into data and the obsolete
    // ref auto-drops
    SnapshotTable.compactPartitions(spark, dir,
      Seq((Some(2000), Some(1)), (Some(2000), Some(2))))
    assert(SnapshotTable.liveDeletes(spark, dir) == ((Nil, Nil)))
    assert(SnapshotTable.read(spark, dir).count() == 9)
    // same hole, positional flavor: a deleteWhere (DV) commit racing a
    // rewrite that read before it must also abort the rewrite
    val v = SnapshotTable.latestVersion(spark, dir)
    val stale = SnapshotTable.read(spark, dir, Some(v))
      .filter(col("service_month") === 2)
    SnapshotTable.deleteWhere(spark, dir,
      col("claim_id") === "K2-1")
    intercept[SnapshotConflictException] {
      SnapshotTable.overwritePartitions(spark, dir, stale,
        Some(Seq((Some(2000), Some(2)))), readVersion = Some(v))
    }
    assert(SnapshotTable.read(spark, dir)
      .filter(col("claim_id") === "K2-1").count() == 0)
  }

  test("deleteWhere positions invalidated by a concurrent rewrite abort inside the CAS — never a silently incomplete delete") {
    val dir = s"$base/stale_positions"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(6, 1, "b1"))
    // between position recording and the CAS, a compaction rewrites
    // every addressed file — the recorded positions now point at files
    // that left the live set, so the matching rows in the rewritten
    // files would survive while the call still returned committed
    intercept[SnapshotConflictException] {
      SnapshotTable.deleteWherePlanned(spark, dir,
        col("claim_amount") > 2.0,
        beforeCommit = () => SnapshotTable.compactPartitions(spark, dir,
          Seq((Some(2000), Some(1)))))
    }
    // nothing half-applied, and the orphaned sidecar was cleaned up
    assert(SnapshotTable.read(spark, dir).count() == 6)
    assert(SnapshotTable.liveDeletes(spark, dir) == ((Nil, Nil)))
    val delRoot = new File(s"$dir/_snapshots/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty)
    // the retry against the current snapshot succeeds
    assert(SnapshotTable.deleteWhere(spark, dir,
      col("claim_amount") > 2.0).nonEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 3)
  }

  test("catalog WAP rollback aborts when a concurrent transaction committed after the staged cut") {
    import SnapshotCatalog.Pin
    val dir = s"$base/catwap_race"
    wipe(dir)
    val a = s"$dir/a"; val b = s"$dir/b"; val cat = s"$dir/_catalog"
    SnapshotTable.append(spark, a, rows(4, 1, "a1"))
    SnapshotTable.append(spark, b, rows(3, 1, "b1"))
    SnapshotCatalog.commit(spark, cat, Seq(Pin("a", a, 1)))
    SnapshotCatalog.setRef(spark, cat, "main", 1)
    // the audit window: a concurrent transaction pins b while this
    // WAP's audit is failing — the wholesale rollback would drop it
    intercept[SnapshotConflictException] {
      SnapshotCatalog.writeAuditPublish(spark, cat,
        Seq(Pin("a", a, 1))) { _ =>
        SnapshotCatalog.commit(spark, cat, Seq(Pin("b", b, 1)))
        false
      }
    }
    // the concurrent pin survived (never silently reverted/dropped)
    assert(SnapshotCatalog.pins(spark, cat).get("b").exists(_.version == 1))
    // the non-racing rollback still works (existing behavior)
    val (_, ok) = SnapshotCatalog.writeAuditPublish(spark, cat,
      Seq(Pin("a", a, 1)))(_ => false)
    assert(!ok)
  }

  test("mergeMor with an all-null-key batch commits rows alone — no empty delete ref carried forward") {
    val dir = s"$base/mor_nullkeys"
    wipe(dir)
    SnapshotTable.append(spark, dir, rows(4, 1, "b1"))
    val upd = rows(1, 2, "b2")
      .withColumn("claim_id", lit(null).cast("string"))
    SnapshotTable.mergeMor(spark, dir, upd)
    assert(SnapshotTable.liveDeletes(spark, dir) == ((Nil, Nil)),
      "a keyless batch must not commit a rows=0 delete ref")
    assert(SnapshotTable.read(spark, dir).count() == 5)
    val delRoot = new File(s"$dir/_snapshots/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty,
      "the staged empty key set must be cleaned up")
  }

  test("numeric key zones probe as intervals: a numeric-keyed merge rewrites only the key-holding file") {
    val dir = s"$base/num_key_zone"
    wipe(dir)
    def keyedNum(lo: Long, n: Int, month: Int, batch: String) =
      (0 until n).map(i => (lo + i, batch, i * 1.0, 2000, month))
        .toDF("claim_num", "batch_id", "claim_amount", "service_year",
          "service_month")
        .coalesce(1) // one file per append → known file↔key-range map
    SnapshotTable.append(spark, dir, keyedNum(0L, 10, 1, "b1"),
      statsColumns = Seq("claim_num"))
    SnapshotTable.append(spark, dir, keyedNum(100L, 10, 1, "b2"),
      statsColumns = Seq("claim_num"))
    SnapshotTable.append(spark, dir, keyedNum(200L, 10, 2, "b3"),
      statsColumns = Seq("claim_num"))
    val before = SnapshotTable.manifest(spark, dir, 3).files.toSet
    val byFile = before.filter(_.contains("service_month=1")).map { f =>
      (spark.read.parquet(s"$dir/$f").select(col("claim_num"))
        .head().getLong(0), f)
    }.toMap
    val updates = Seq((103L, "b9", 999.0, 2000, 1))
      .toDF("claim_num", "batch_id", "claim_amount", "service_year",
        "service_month")
    // the metadata probe itself names ONLY the interval-intersecting
    // file (pre-fix: every numeric-zoned file fell into the
    // always-candidate arm and the verify step scanned the whole table)
    val cands = SnapshotTable.candidateFilesByKeyZone(spark, dir,
      updates.select(col("claim_num")), "claim_num", 3)
    assert(cands.toSet == Set(byFile(100L)),
      s"numeric probe must name exactly the [100,109] file, got $cands")
    SnapshotTable.merge(spark, dir, updates, key = "claim_num")
    val after = SnapshotTable.manifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir)).files.toSet
    assert(after.contains(byFile(0L)),
      "the [0,9] file holds no update key — numeric interval probe " +
        "must carry it by reference (it used to verify-scan every file)")
    assert(!after.contains(byFile(100L)), "the [100,109] file must rewrite")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 30)
    assert(now.filter(col("claim_num") === 103L)
      .head().getAs[Double]("claim_amount") == 999.0)
    // a provably-absent numeric key set is a metadata-only no-op
    val v = SnapshotTable.latestVersion(spark, dir)
    assert(SnapshotTable.deleteKeysMor(spark, dir,
      Seq(9999L).toDF("claim_num"), key = "claim_num").isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir) == v)
  }

  test("pruning hints derive from the predicate: a hintless bounded purge prunes files it cannot match") {
    import SnapshotTable.ZoneStat
    // numeric bound + partition equalities + a DATE literal bound
    val (parts, zones) = SnapshotTable.pruningHintsOf(
      col("claim_amount") > 300000.0 &&
        col("service_year") === 1996 && col("service_month") === 2 &&
        col("service_date") >= lit("1996-04-01").cast("date"))
    assert(parts.contains(Seq((Some(1996), Some(2)))))
    val amount = zones.find(_.column == "claim_amount").get
    assert(!amount.matches(ZoneStat("num", "0.0", "100.0")))
    assert(amount.matches(ZoneStat("num", "250000.0", "400000.0")))
    assert(amount.matches(ZoneStat("str", "a", "b")),
      "a mismatched zone kind must pass (lossless)")
    val dt = zones.find(_.column == "service_date").get
    assert(!dt.matches(ZoneStat("date", "1996-01-01", "1996-03-31")))
    assert(dt.matches(ZoneStat("date", "1996-03-01", "1996-05-31")))
    // year-only equality enumerates the 12 months and the null month
    val (pYear, _) = SnapshotTable.pruningHintsOf(
      col("service_year") === 1997)
    assert(pYear.exists(_.size == 13))
    assert(pYear.exists(_.contains((Some(1997), None))))
    // non-derivable shapes contribute NOTHING (ORs, casts of columns)
    val (pNone, zNone) = SnapshotTable.pruningHintsOf(
      col("a") > 1.0 || col("b") < 2.0)
    assert(pNone.isEmpty && zNone.isEmpty)
    // e2e: a hintless deleteWhere on an amount-clustered table scans
    // only the intersecting files — and still deletes exactly right
    val dir = s"$base/hintless_prune"
    wipe(dir)
    val df = (0 until 4000).map(i =>
        (f"K$i%05d", "b1", (i % 1000) * 1.0, 2000, 1 + i % 2))
      .toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month")
    SnapshotTable.append(spark, dir,
      df.repartitionByRange(4, col("claim_amount"))
        .sortWithinPartitions(col("claim_amount")),
      statsColumns = Seq("claim_amount"), rebalance = false)
    val (_, total, scanned) = SnapshotTable.deleteWherePlanned(spark, dir,
      col("claim_amount") >= 900.0 && col("service_month") === 1).get
    assert(scanned < total,
      s"derived bounds must prune ($scanned of $total scanned)")
    val now = SnapshotTable.read(spark, dir)
    assert(now.count() == 4000 - 200)
    assert(now.filter(col("claim_amount") >= 900.0 &&
      col("service_month") === 1).isEmpty)
    assert(now.filter(col("claim_amount") >= 900.0).count() == 200,
      "month 2's matching rows must survive")
  }

  test("derived-hint scans keep files whose path proves nothing: unpartitioned files survive a partition hint") {
    val dir = s"$base/unparsed_keep"
    wipe(dir)
    // a dimension-style commit: no year/month columns → files land
    // unpartitioned, keyed "~~" in the chunk ranges
    val dim = (0 until 5).map(i => (s"D$i", i * 1.0))
      .toDF("dim_id", "weight")
    SnapshotTable.append(spark, dir, dim)
    val hint = Some(Seq((Some(2000): Option[Int], Some(1): Option[Int])))
    // the explicit-partition contract excludes them (caller named
    // partitions; unpartitioned files are out of scope)...
    val (_, total, strict) = SnapshotTable.planScan(spark, dir, hint)
    assert(strict == 0 && total > 0)
    // ...the derived-hint mode must NOT: a bound inferred from a row
    // predicate may only exclude files whose path disproves a match
    val (df, _, kept) = SnapshotTable.planScan(spark, dir, hint,
      keepUnparsed = true)
    assert(kept == total, s"unparsed files must stay in ($kept of $total)")
    assert(df.count() == 5)
  }

  test("append onto a legacy z-ordered root (sortorder without persisted bounds) passes through unchanged") {
    val dir = s"$base/legacy_zorder"
    wipe(dir)
    // a root stamped with a sort order but WITHOUT zorder.bounds.* —
    // the shape a pre-bounds z-ordered table carries forward
    SnapshotTable.append(spark, dir, rows(4, 1, "b1"),
      extraMeta = Map(
        "sortorder" -> "zorder(claim_amount,service_month)",
        "zorder.bits" -> "4"))
    val batch = rows(2, 2, "b2")
    val (out, stats) = SnapshotTable.clusterForSortOrder(spark, dir,
      batch, Seq("claim_id"))
    assert(out eq batch,
      "no bounds → not clusterable → the batch must pass through " +
        "unchanged (no z=0 shuffle)")
    assert(stats == Seq("claim_id"))
    // and the end-to-end append still lands
    SnapshotTable.append(spark, dir, batch)
    assert(SnapshotTable.read(spark, dir).count() == 6)
  }
}
