package graft

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** The timestamp surface + the one-call maintenance driver (round 15).
  * Pins:
  *  - snapshotLog / versionAsOf / readAsOf resolve versions by root
  *    mtime (time travel by wall-clock; pre-history timestamps loud)
  *  - expireSnapshots retires roots by AGE while keeping the window,
  *    the latest, and ref-pinned versions
  *  - maintain() folds MoR debt, consolidates sidecars, bounds file
  *    counts, refreshes the Bloom index LAST (rewritten files end up
  *    covered), and leaves content byte-identical
  *  - an idle table's maintain() is a no-op on every dimension
  */
class MaintenanceSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotTable._

  private val base = "target/test_maintenance"

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

  private def fs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pin a root file's mtime so the clock surface is deterministic. */
  private def setRootTime(dir: String, v: Int, ts: Long): Unit =
    fs(dir).setTimes(
      new Path(f"$dir/_snapshots/v$v%05d.txt"), ts, -1)

  /** Remove the root's commit.ts stamp — simulates a PRE-FEATURE root
    * so the mtime fallback (and setRootTime pinning) is exercised. */
  private def stripCommitTs(dir: String, v: Int): Unit = {
    val p = new Path(f"$dir/_snapshots/v$v%05d.txt")
    val f = fs(dir)
    val in = f.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val out = text.linesIterator
      .filterNot(_.startsWith("M\tcommit.ts\t")).mkString("\n")
    val os = f.create(p, true)
    try os.write(out.getBytes("UTF-8")) finally os.close()
  }

  /** [[stripCommitTs]] + mtime pin, in the order that survives the
    * rewrite (create() refreshes the mtime). */
  private def pinLegacyRoot(dir: String, v: Int, ts: Long): Unit = {
    stripCommitTs(dir, v); setRootTime(dir, v, ts)
  }

  private def rootName(dir: String): String = {
    // resolve the actual root file naming once, defensively
    val snaps = fs(dir).listStatus(new Path(s"$dir/_snapshots"))
      .map(_.getPath.getName).filter(_.matches("v\\d+\\.txt"))
    assert(snaps.nonEmpty, "no root files found")
    snaps.head
  }

  test("versionAsOf/readAsOf resolve by commit wall-clock; pre-history is loud") {
    val dir = s"$base/asof"
    wipe(dir)
    append(spark, dir, rows(Seq("A"), "b1", 1.0)) // v1
    append(spark, dir, rows(Seq("B"), "b2", 2.0)) // v2
    append(spark, dir, rows(Seq("C"), "b3", 3.0)) // v3
    rootName(dir) // assert naming matches setRootTime's pattern
    pinLegacyRoot(dir, 1, 1000L)
    pinLegacyRoot(dir, 2, 2000L)
    pinLegacyRoot(dir, 3, 3000L)
    assert(versionAsOf(spark, dir, 2500L) == 2)
    assert(versionAsOf(spark, dir, 3000L) == 3)
    assert(readAsOf(spark, dir, 1999L).select("claim_id")
      .as[String].collect().toSeq == Seq("A"))
    val e = intercept[IllegalArgumentException] {
      versionAsOf(spark, dir, 500L)
    }
    assert(e.getMessage.contains("at or before"))
    assert(snapshotLog(spark, dir).map(_._1) == Seq(1, 2, 3))
  }

  test("expireSnapshots retires by age, keeping the window and the latest") {
    val dir = s"$base/expire"
    wipe(dir)
    append(spark, dir, rows(Seq("A"), "b1", 1.0)) // v1
    append(spark, dir, rows(Seq("B"), "b2", 2.0)) // v2
    append(spark, dir, rows(Seq("C"), "b3", 3.0)) // v3
    pinLegacyRoot(dir, 1, 1000L)
    pinLegacyRoot(dir, 2, 2000L)
    pinLegacyRoot(dir, 3, 3000L)
    // window = 1.5s back from "now"=3500 → keeps v2, v3; v1 expires
    expireSnapshots(spark, dir, olderThanMs = 1500L, nowMs = 3500L)
    assert(snapshotLog(spark, dir).map(_._1) == Seq(2, 3))
    // everything out of window: still keeps the latest
    pinLegacyRoot(dir, 2, 2000L); pinLegacyRoot(dir, 3, 3000L)
    expireSnapshots(spark, dir, olderThanMs = 10L, nowMs = 99999L)
    assert(snapshotLog(spark, dir).map(_._1) == Seq(3))
    assert(read(spark, dir).count() == 3, "content is version-complete")
  }

  test("time travel survives a table copy: commit.ts beats mtime; skew is monotone-corrected") {
    val dir = s"$base/copied"
    wipe(dir)
    append(spark, dir, rows(Seq("A"), "b1", 1.0)) // v1
    append(spark, dir, rows(Seq("B"), "b2", 2.0)) // v2
    append(spark, dir, rows(Seq("C"), "b3", 3.0)) // v3
    val logBefore = snapshotLog(spark, dir)
    // simulate `cp -r` / an object-store copy: every root file gets a
    // FRESH mtime in arbitrary order — the stamped commit.ts must win
    setRootTime(dir, 1, 999999999L)
    setRootTime(dir, 2, 1L)
    setRootTime(dir, 3, 42L)
    assert(snapshotLog(spark, dir) == logBefore,
      "commit times must come from root metadata, not mtimes")
    assert(versionAsOf(spark, dir, logBefore(1)._2) == 2)
    // mixed history: strip v2's stamp and backdate its mtime below
    // v1's commit time — the running-max correction keeps the log
    // monotone, so v2 still resolves at/after v1, never before it
    stripCommitTs(dir, 2)
    setRootTime(dir, 2, 1L)
    val log = snapshotLog(spark, dir)
    assert(log.map(_._1) == Seq(1, 2, 3))
    assert(log.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      s"log must be monotone: $log")
    assert(versionAsOf(spark, dir, log(0)._2) >= 1)
  }

  test("maintain folds debt, bounds files, refreshes blooms last, keeps content") {
    val dir = s"$base/maintain"
    wipe(dir)
    append(spark, dir,
      rows((0 until 40).map(i => f"K$i%03d"), "b1", 1.0)
        .repartition(6, col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    buildFileBlooms(spark, dir, Seq("claim_id"))
    // traffic: MoR delete debt + a second small-file append
    deleteKeysMor(spark, dir,
      (0 until 12).map(i => f"K$i%03d").toDF("claim_id"))
    append(spark, dir, rows(Seq("XNEW"), "b2", 2.0))
    val before = read(spark, dir)
      .select("claim_id", "batch_id", "claim_amount")
      .as[(String, String, Double)].collect().toSet
    val report = maintain(spark, dir, morDebtRatio = 0.0,
      maxFilesPerPartition = 2)
    assert(report.morCompactedPartitions > 0)
    val (eq, pos) = liveDeletes(spark, dir)
    assert(eq.isEmpty && pos.isEmpty, "folded refs must auto-drop")
    assert(report.bloomRefreshed,
      "rewritten + appended files must get Bloom coverage")
    val after = read(spark, dir)
      .select("claim_id", "batch_id", "claim_amount")
      .as[(String, String, Double)].collect().toSet
    assert(after == before, "maintenance must not change content")
    // the refreshed index prunes an in-range absent key to nothing
    val v = latestVersion(spark, dir)
    assert(candidateFilesForKeys(spark, dir,
      Seq("K005X").toDF("claim_id"), "claim_id", v).isEmpty)
    // a second pass on the now-idle table is a no-op everywhere
    val idle = maintain(spark, dir, morDebtRatio = 0.0,
      maxFilesPerPartition = 2)
    assert(idle == MaintenanceReport(0, 0, false, 0, false, false, 0))
  }

  test("pruneDanglingDeletes drops only refs proven matchless") {
    val dir = s"$base/dangling"
    wipe(dir)
    // two partitions; the delete's keys live ONLY in month 1
    append(spark, dir,
      (Seq(("K-A", "b1", 1.0, 2000, 1), ("K-B", "b1", 2.0, 2000, 1)) ++
       Seq(("Z-C", "b1", 3.0, 2000, 2)))
        .toDF("claim_id", "batch_id", "claim_amount", "service_year",
          "service_month"),
      statsColumns = Seq("claim_id"))
    deleteKeysMor(spark, dir, Seq("K-A").toDF("claim_id"))
    // the ref is ALIVE: pruning must keep it (raw content still holds K-A)
    assert(pruneDanglingDeletes(spark, dir).isEmpty)
    assert(read(spark, dir).count() == 2)
    // fold month 1 (the reached partition): K-A's bytes are gone, but
    // month 2's file keeps seq 1, so the seq-based auto-drop carries
    // the ref — the dangling prune proves it matchless and drops it
    compactPartitions(spark, dir, Seq((Some(2000), Some(1))))
    val (eqBefore, _) = liveDeletes(spark, dir)
    assert(eqBefore.nonEmpty, "the fixture must exhibit the carry")
    assert(pruneDanglingDeletes(spark, dir).size == 1)
    val (eqAfter, posAfter) = liveDeletes(spark, dir)
    assert(eqAfter.isEmpty && posAfter.isEmpty)
    assert(read(spark, dir).select("claim_id").as[String].collect()
      .sorted.toSeq == Seq("K-B", "Z-C"), "dropping must not resurrect")
  }

  test("a 40-key mergeMor over 20 of 24 partitions folds none at ratio 0.2; at 0.0 exactly the reached ones fold and no ref stays live") {
    val dir = s"$base/thin_debt"
    wipe(dir)
    // 24 month partitions of 20 claims, one file each
    val parts = (0 until 24).map(m => (2000 + m / 12, m % 12 + 1))
    append(spark, dir, parts.flatMap { case (y, m) =>
        (0 until 20).map(i => (f"K$y-$m%02d-$i%02d", "b0", i * 1.0, y, m))
      }.toDF("claim_id", "batch_id", "claim_amount", "service_year",
        "service_month").repartition(col("service_year"),
        col("service_month")),
      statsColumns = Seq("claim_id"))
    // 40 upserts, two in each of the first 20 partitions, updated in place
    val reached = parts.take(20)
    val upd = reached.flatMap { case (y, m) =>
      Seq(3, 11).map(i => (f"K$y-$m%02d-$i%02d", "b1", 500.0 + i, y, m))
    }
    mergeMor(spark, dir, upd.toDF("claim_id", "batch_id", "claim_amount",
      "service_year", "service_month"))
    val model = parts.flatMap { case (y, m) =>
      (0 until 20).map(i => f"K$y-$m%02d-$i%02d" -> "b0")
    }.toMap ++ upd.map(u => u._1 -> "b1")
    def content = read(spark, dir).select("claim_id", "batch_id")
      .as[(String, String)].collect().toMap
    // each reached partition holds 2 doomed rows of 22: debt 0.09 < 0.2
    val debt = morDebtByPartition(spark, dir)
    assert(debt.size == 24)
    reached.foreach(p =>
      assert(debt((Some(p._1), Some(p._2)))._1 == 2, s"$p: ${debt(
        (Some(p._1), Some(p._2)))}"))
    parts.drop(20).foreach(p =>
      assert(debt((Some(p._1), Some(p._2)))._1 == 0))
    assert(autoCompactMor(spark, dir, 0.2).isEmpty,
      "thin debt must not fold the table")
    assert(liveDeletes(spark, dir)._1.size == 1)
    assert(content == model)
    // ratio 0: every partition holding a doomed row folds, no other
    val folded = autoCompactMor(spark, dir, 0.0)
    assert(folded.toSet == reached.map(p => (Some(p._1), Some(p._2))).toSet)
    assert(liveDeletes(spark, dir) == ((Nil, Nil)))
    assert(content == model)
  }
}
