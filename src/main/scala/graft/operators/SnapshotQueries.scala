package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Oracle-checked queries over the [[SnapshotTable]] layer.
  *
  * Fixture hygiene (round-11 VERDICT #2): every deterministic fixture —
  * clustered base tables, cached silver batches — is built ONCE per
  * (scale, corpus fingerprint) by [[FixtureCache]] and REUSED across
  * bench warmup/min-of-3 runs and verify passes, so the timed region
  * measures the OPERATOR (version reads, CAS commits, zone-pruned
  * scans, metadata-diff publishes), not fixture construction. Mutating
  * queries (merge/delete/rollback/WAP) share a cached base table and
  * reset to its base version with [[SnapshotTable.truncateTo]] first —
  * metadata plus the prior run's small mutation output, never a
  * rebuild.
  */
object SnapshotQueries {

  import SnapshotTable._

  private def wipe(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def leafOf(sfDir: String): String =
    sfDir.replaceAll("[/\\\\]+$", "").split("[/\\\\]").last

  private def keyCols(df: DataFrame): DataFrame = df
    .select(col("claim_id"), col("batch_id"), col("claim_amount"),
      col("service_year"), col("service_month"))
    .orderBy(col("claim_id"))

  /** Write the claims silver as a snapshot table CLUSTERED by
    * claim_amount — repartitionByRange gives disjoint per-task amount
    * ranges, sortWithinPartitions orders rows inside each file — so the
    * committed zone maps are near-disjoint and a range scan can skip
    * most files. The clustering/stats cost is paid once at write; every
    * later range query wins. */
  private[graft] def buildClusteredSilver(spark: SparkSession,
      sfDir: String, tableDir: String, rangeGroups: Int = 8): Unit =
    append(spark, tableDir,
      FixtureCache.silverFull(spark, sfDir)
        .repartitionByRange(rangeGroups, col("claim_amount"))
        .sortWithinPartitions(col("claim_amount")),
      statsColumns = Seq("claim_amount"), rebalance = false)

  /** [[buildClusteredSilver]] clustered on `service_date` instead — a
    * DATE-typed zone-map column, exercising the lexicographic ISO
    * domain end-to-end. */
  private[graft] def buildDateClusteredSilver(spark: SparkSession,
      sfDir: String, tableDir: String, rangeGroups: Int = 8): Unit =
    append(spark, tableDir,
      FixtureCache.silverFull(spark, sfDir)
        .repartitionByRange(rangeGroups, col("service_date"))
        .sortWithinPartitions(col("service_date")),
      statsColumns = Seq("service_date"), rebalance = false)

  private def amountClusteredTable(spark: SparkSession, sfDir: String)
      : String = {
    val d = FixtureCache.cachedDir(spark, "snap_amount_clustered", sfDir)(
      dir => buildClusteredSilver(spark, sfDir, s"$dir/silver"))
    s"$d/silver"
  }

  private[graft] def dateClusteredTable(spark: SparkSession, sfDir: String)
      : String = {
    val d = FixtureCache.cachedDir(spark, "snap_date_clustered", sfDir)(
      dir => buildDateClusteredSilver(spark, sfDir, s"$dir/silver"))
    s"$d/silver"
  }

  /** The key-clustered claims silver (claim_id zones committed), the
    * shared MUTABLE base of the merge/delete queries: base version 1,
    * reset per run via truncateTo. */
  private[graft] def keyClusteredBase(spark: SparkSession, sfDir: String)
      : String = {
    val d = FixtureCache.cachedDir(spark, "snap_key_clustered", sfDir) {
      dir =>
        append(spark, s"$dir/silver",
          FixtureCache.silverFull(spark, sfDir)
            .repartitionByRange(8, col("claim_id"))
            .sortWithinPartitions(col("claim_id")),
          statsColumns = Seq("claim_id"), rebalance = false)
    }
    s"$d/silver"
  }

  /** `q_data_skipping`: zone-map file pruning as an oracle-checked
    * query. The (cached) fixture commits the claims silver
    * amount-clustered with per-file min/max stats; the query answers a
    * narrow amount-range aggregate having handed the parquet reader
    * ONLY the files whose zone intersects the range (SnapshotSpec pins
    * the file-skip ratio). The DuckDB oracle computes the same
    * aggregate over the FULL table — equality proves skipping never
    * dropped a qualifying row. */
  def dataSkippingE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = amountClusteredTable(spark, sfDir)
    val (df, _, _) = planScan(spark, tableDir,
      zones = Seq(ZonePredicate.num("claim_amount", 1000.0, 20000.0)))
    df.filter(col("claim_amount") >= 1000.0 &&
        col("claim_amount") <= 20000.0)
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
  }

  /** `q_read_where`: the predicate-pruned READ as an oracle-checked
    * query (round-15 — [[SnapshotTable.readWhere]]): the caller writes
    * exactly the row filter they mean, the file-skipping bounds derive
    * from the predicate's own conjuncts ([[SnapshotTable
    * .pruningHintsOf]]), and the scan hands the parquet reader only
    * the intersecting files (asserted: fewer files than the table
    * holds, via [[SnapshotTable.readWherePlanned]]). The DuckDB
    * oracle computes the banded rollup over the FULL table — equality
    * proves the automatic derivation never skipped a qualifying
    * file. */
  def readWhereE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = amountClusteredTable(spark, sfDir)
    val pred = col("claim_amount") >= 50000.0 &&
      col("claim_amount") <= 120000.0
    val (_, total, kept) = readWherePlanned(spark, tableDir, pred)
    require(kept < total,
      s"derived bounds must prune the scan ($kept of $total files)")
    readWhere(spark, tableDir, pred)
      .groupBy(col("claim_amount_category"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("claim_amount_category"))
  }

  /** The HASH-distributed claims silver with a per-file Bloom index
    * over claim_id + member_id — the table shape zone maps cannot
    * prune (every file spans the whole key domain) and the Bloom
    * sidecar can. Read-only; base version 2 (v1 = data, v2 = the
    * bloom-index metadata commit). */
  private def bloomIndexedTable(spark: SparkSession, sfDir: String)
      : String = {
    val d = FixtureCache.cachedDir(spark, "snap_hash_bloom", sfDir) {
      dir =>
        append(spark, s"$dir/silver",
          FixtureCache.silverFull(spark, sfDir)
            .repartition(32, col("claim_id")),
          statsColumns = Seq("claim_id"), rebalance = false)
        buildFileBlooms(spark, s"$dir/silver",
          Seq("claim_id", "member_id"))
        ()
    }
    s"$d/silver"
  }

  /** `q_bloom_lookup`: per-file BLOOM-INDEX point lookup as an
    * oracle-checked query (the Puffin-sidecar shape). The fixture is
    * HASH-distributed by claim_id — every file's claim_id zone spans
    * the whole domain, so min/max skipping is blind here — with a
    * Bloom index built over claim_id and member_id. The query looks up
    * every claim of ONE deterministic member (the lexicographic max)
    * by its claim-id set via [[SnapshotTable.readKeys]] and asserts
    * the probe opened strictly fewer files than the table holds: at
    * 100 TB, a k-key lookup on an unclustered table opens ~k files,
    * not the table. The DuckDB oracle recomputes the member's claims
    * over the FULL silver — equality proves the Bloom never dropped a
    * matching file. */
  def bloomLookupE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = bloomIndexedTable(spark, sfDir)
    val silver = FixtureCache.silverFull(spark, sfDir)
    val maxMember = silver.agg(max(col("member_id"))).collect()(0)
      .getString(0)
    val keys = silver.filter(col("member_id") === maxMember)
      .select(col("claim_id"))
    val (df, live, scanned) =
      readKeysPlanned(spark, tableDir, keys, "claim_id")
    require(scanned < live,
      s"the Bloom probe must prune the unclustered lookup " +
        s"(scanned $scanned of $live files)")
    df.select(col("claim_id"), col("member_id"), col("claim_amount"),
        col("service_year"), col("service_month"))
      .orderBy(col("claim_id"))
  }

  /** `q_date_skipping`: typed (DATE) zone-map pruning as an oracle-
    * checked query — lexicographic compare of ISO strings ==
    * chronological, so the 1996 aggregate reads only files whose date
    * zone intersects the year; the full-table DuckDB oracle proves the
    * pruning lossless. */
  def dateSkippingE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = dateClusteredTable(spark, sfDir)
    val (df, _, _) = planScan(spark, tableDir, zones = Seq(
      ZonePredicate.str("service_date", "1996-01-01", "1996-12-31")))
    df.filter(col("service_date") >= lit("1996-01-01").cast("date") &&
        col("service_date") <= lit("1996-12-31").cast("date"))
      .groupBy(col("service_month"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_month"))
  }

  /** `q_scan_planner`: the unified scan planner (round-11 VERDICT #4)
    * as an oracle-checked query — ONE [[SnapshotTable.planScan]] call
    * composes partition pruning (1996 Q2 months, resolved from the
    * root's chunk ranges + file prefixes) with DATE zone pruning, where
    * previously a partition read and a zone scan composed manually. The
    * DuckDB oracle aggregates the FULL silver under the same row
    * predicate — equality proves the one-call plan reads every
    * qualifying row (SnapshotSpec pins its file set == the manual
    * composition). */
  def scanPlannerE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = dateClusteredTable(spark, sfDir)
    val parts = Seq(4, 5, 6).map(m => (Some(1996), Some(m)))
    val (df, _, _) = planScan(spark, tableDir, Some(parts),
      Seq(ZonePredicate.str("service_date", "1996-04-01", "1996-06-30")))
    df.filter(col("service_date") >= lit("1996-04-01").cast("date") &&
        col("service_date") <= lit("1996-06-30").cast("date"))
      .groupBy(col("service_month"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_month"))
  }

  /** `q_concurrent_commits`: the multi-writer CAS protocol as an
    * oracle-checked query. Four writers append disjoint quarters of the
    * claims silver CONCURRENTLY (real threads, real CAS contention on
    * the root); the final table must be the complete silver — the
    * DuckDB oracle recomputes it from the raw chain, so equality proves
    * no commit was lost and no row duplicated, whatever order the
    * writers won their versions in. The silver itself comes from the
    * fixture cache (round-11 VERDICT #3: previously each writer
    * re-executed the full cleanse chain concurrently), so the timed
    * cost is the four staged writes + the CAS race. */
  def concurrentCommitsE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    Engine.configure(spark)
    val base = s"target/snapshot_cas/${leafOf(sfDir)}"
    wipe(spark, base)
    val tableDir = s"$base/silver"
    val silver = FixtureCache.silverFull(spark, sfDir)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writers = (0 until 4).map { w =>
      Future(append(spark, tableDir,
        silver.filter(pmod(crc32(col("claim_id")), lit(4)) === w),
        op = s"append-w$w"))
    }
    Await.result(Future.sequence(writers), 10.minutes)
    require(latestVersion(spark, tableDir) == 4,
      "every concurrent commit must get its own version")
    keyCols(read(spark, tableDir))
  }

  /** v1 = base silver; v2 = latest-wins merge of the correction batch
    * (the q_upsert_claims fixture's update set), committed copy-on-
    * write. Shared by the query fixture and the spec. */
  private[graft] def runSnapshotFixture(spark: SparkSession, sfDir: String,
      tableDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    append(spark, tableDir, FixtureCache.silverFull(spark, sfDir))
    val updates = FixtureCache.correctionBatch(spark, sfDir)
    val targets = updates
      .select(col("service_year"), col("service_month")).distinct()
      .collect().map(r => (
        Option(r.getAs[Integer]("service_year")).map(_.intValue),
        Option(r.getAs[Integer]("service_month")).map(_.intValue))).toSeq
    val slice = IncrementalGold.partitionSlice(read(spark, tableDir),
      targets)
    val merged = slice.withColumn("__src", lit(1))
      .unionByName(updates.withColumn("__src", lit(0)))
    val w = Window.partitionBy(col("claim_id"))
      .orderBy(col("batch_id").desc, col("__src").desc)
    val latest = merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
    overwritePartitions(spark, tableDir, latest, Some(targets))
  }

  /** `q_time_travel`: snapshot isolation + time travel as one oracle-
    * checked query. The (cached) fixture holds v1 = the full claims
    * silver and v2 = the SCD1 correction batch committed as a
    * copy-on-write partition overwrite. The query reads BOTH versions
    * from their roots and unions them tagged by version; the DuckDB
    * oracle recomputes v1 from the batch-1 chain and v2 from the
    * windowed merge — equality proves v1 is STILL byte-faithful after
    * v2's overwrite (copy-on-write isolation) and v2 sees the merge.
    * The timed region is the two version reads alone. */
  def timeTravelE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snapshot_tt", sfDir)(
      dir => runSnapshotFixture(spark, sfDir, s"$dir/silver"))
    val tableDir = s"$d/silver"
    def at(v: Int) = read(spark, tableDir, Some(v))
      .select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("service_year"), col("service_month"))
      .withColumn("version", lit(v))
    at(1).unionByName(at(2)).orderBy(col("version"), col("claim_id"))
  }

  /** Key-clustered base append + moving-batch merge (spec fixture). */
  private[graft] def runMergeFixture(spark: SparkSession, sfDir: String,
      tableDir: String): Seq[(Option[Int], Option[Int])] = {
    append(spark, tableDir,
      FixtureCache.silverFull(spark, sfDir)
        .repartitionByRange(8, col("claim_id"))
        .sortWithinPartitions(col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    merge(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
  }

  /** `q_snapshot_merge`: partition-MOVING MERGE on the snapshot layer
    * as an oracle-checked query. The cached base is the full claims
    * silver appended KEY-CLUSTERED (so per-file claim_id zones are
    * narrow); each run resets to base (truncateTo — metadata + the
    * prior run's merge output) and merges the moving-correction batch
    * (service date restated +40 days for every 10th 1997-07+ order —
    * each corrected claim leaves its partition) via
    * [[SnapshotTable.merge]]: candidate files from the key zones,
    * verified semi-join, one copy-on-write commit. The DuckDB oracle
    * replays both batches through the cleanse CTEs and windows per key
    * (identical to q_upsert_moving's contract), so row-level equality
    * proves no key survived in its old home and none was lost — while
    * v1 time travel to the pre-merge table stays readable
    * (SnapshotSpec). */
  def mergeE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    merge(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_delete`: row-level DELETE on the snapshot layer as an
    * oracle-checked query. Same cached key-clustered base (reset per
    * run); every 10th order's claim erased via
    * [[SnapshotTable.deleteKeys]]. The DuckDB oracle recomputes the
    * silver minus the doomed key set over the FULL chain — equality
    * proves the zone-pruned rewrite deleted every doomed row and
    * nothing else. */
  def deleteE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    val doomed = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(concat(lit("C"), col("o_orderkey").cast("string"))
        .as("claim_id"))
    deleteKeys(spark, tableDir, doomed)
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_delete_mor`: MERGE-ON-READ row-level DELETE as an
    * oracle-checked query — the 100 TB erasure shape (round-13's one
    * perf-weak closed from the other side): the same doomed key set as
    * q_snapshot_delete, but committed as ONE equality-delete file in
    * O(deleted keys) with ZERO data files rewritten (asserted against
    * the manifest), applied by the read path's sequence-scoped
    * anti-join. The DuckDB oracle recomputes silver minus the doomed
    * keys over the full chain — equality proves the merge-on-read
    * erased every doomed row and nothing else, without touching a
    * data file. */
  def deleteMorE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    val doomed = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(concat(lit("C"), col("o_orderkey").cast("string"))
        .as("claim_id"))
    val filesBefore = manifest(spark, tableDir, 1).files.toSet
    val v = deleteKeysMor(spark, tableDir, doomed)
    require(v.contains(2), "the MoR delete must commit exactly one version")
    require(manifest(spark, tableDir, 2).files.toSet == filesBefore,
      "a merge-on-read delete must rewrite ZERO data files")
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_merge_file_cow`: FILE-granular copy-on-write MERGE as
    * an oracle-checked query (the round-13 perf-weak closed from the
    * write side): the base is the claims silver key-clustered into 16
    * range groups, the correction batch restates amounts for keys in
    * ONE narrow lexicographic slice of the clustered key order (the
    * "C19…" digit-prefix range, ~2% of keys at every scale) — so the
    * key-zone probe + per-file verify names just that slice's files,
    * the merge rewrites exactly those, and every other file of the
    * same partitions carries by reference (asserted: a majority of the
    * pre-merge manifest survives BY NAME — before round 14 the
    * partition-granularity rewrite replaced every file of every 1998+
    * partition). The DuckDB oracle replays both batches through the
    * cleanse CTEs and windows per key — row-level equality proves the
    * narrow rewrite merged every correction and lost nothing. */
  def mergeFileCowE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_key_clustered16", sfDir) {
      dir =>
        append(spark, s"$dir/silver",
          FixtureCache.silverFull(spark, sfDir)
            .repartitionByRange(16, col("claim_id"))
            .sortWithinPartitions(col("claim_id")),
          statsColumns = Seq("claim_id"), rebalance = false)
    }
    val tableDir = s"$d/silver"
    truncateTo(spark, tableDir, 1)
    val before = manifest(spark, tableDir, 1).files.toSet
    merge(spark, tableDir, FixtureCache.narrowCorrectionBatch(spark, sfDir))
    val after = manifest(spark, tableDir,
      latestVersion(spark, tableDir)).files.toSet
    val carried = (before intersect after).size
    require(carried * 2 > before.size,
      s"file-granular COW must carry most files by reference " +
        s"($carried of ${before.size} survived)")
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_merge_mor`: the ATOMIC merge-on-read MERGE as an
    * oracle-checked query — the CDC-apply shape at 100 TB: the same
    * moving-correction batch as q_snapshot_merge, applied by
    * [[SnapshotTable.mergeMor]] in ONE commit carrying an
    * equality-delete for the update keys plus the update rows as a new
    * chunk — zero data reads, zero rewrites (asserted: every pre-merge
    * file still referenced), cost ∝ the batch. The DuckDB oracle is
    * identical to q_snapshot_merge's replayed latest-wins chain, so
    * equality proves the delete+append composition inside one commit
    * yields exactly the merged table the copy-on-write path computes
    * by reading and rewriting. */
  def mergeMorE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    val before = manifest(spark, tableDir, 1).files.toSet
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    val after = manifest(spark, tableDir,
      latestVersion(spark, tableDir)).files.toSet
    require(before.subsetOf(after),
      "a merge-on-read MERGE must not rewrite or drop any data file")
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_delete_where`: POSITIONAL (deletion-vector) delete by
    * PREDICATE as an oracle-checked query — the purge shape equality
    * deletes can't express ("erase every claim over 300k"), in
    * O(matched rows) with ZERO data files rewritten (asserted against
    * the manifest). The matching scan is ZONE-PRUNED (round-14's one
    * perf-weak closed) with bounds DERIVED from the predicate itself
    * ([[SnapshotTable.pruningHintsOf]] — no hints passed): the fixture
    * is amount-clustered with claim_amount zone maps, and the run
    * asserts the scan read strictly fewer files than the table holds —
    * at 100 TB a bounded purge reads the intersecting files, never the
    * table. The scan records the
    * matches' (file, row-index) positions, the commit publishes the DV
    * sidecar, the read funnel anti-joins it. The DuckDB oracle
    * recomputes silver keeping only rows that do NOT match — equality
    * proves the pruned positional erase got every matching row and
    * nothing else. */
  def deleteWhereE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    // a MUTABLE amount-clustered base of its own (q_data_skipping's
    // amount-clustered fixture stays read-only — shared-fixture rule)
    val d = FixtureCache.cachedDir(spark, "snap_dw_amount", sfDir)(
      dir => buildClusteredSilver(spark, sfDir, s"$dir/silver"))
    val tableDir = s"$d/silver"
    truncateTo(spark, tableDir, 1)
    val filesBefore = manifest(spark, tableDir, 1).files.toSet
    val planned = deleteWherePlanned(spark, tableDir,
      col("claim_amount") > 300000.0) // bounds derived, no hints
    val (v, total, scanned) = planned.getOrElse(
      throw new IllegalStateException("the positional delete must commit"))
    require(v == 2, "the positional delete must commit exactly once")
    require(scanned < total,
      s"the bounded predicate's matching scan must be zone-pruned " +
        s"(scanned $scanned of $total files)")
    require(manifest(spark, tableDir, 2).files.toSet == filesBefore,
      "a positional delete must rewrite ZERO data files")
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_rollback`: the metadata-only undo as an oracle-checked
    * query. The cached fixture holds v1 = pre-1997 silver and v2 = the
    * 1997+ batch; each run resets to v2, then ROLLS BACK to v1 —
    * a commit that copies v1's chunk references, reading and writing no
    * data — and returns the post-rollback table. The DuckDB oracle
    * recomputes the pre-1997 silver alone, so equality proves the
    * rollback restored exactly the v1 content while v2 stays
    * time-travelable (SnapshotSpec pins that). */
  def rollbackE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = FixtureCache.snapshotTwoBatchTable(spark, sfDir)
    truncateTo(spark, tableDir, 2)
    rollbackTo(spark, tableDir, 1)
    keyCols(read(spark, tableDir))
  }

  /** `q_snapshot_wap`: write-audit-publish on the branch model as an
    * oracle-checked query. The cached base is the pre-1997 silver
    * (main = v1, reset per run). A CORRUPTED 1997+ batch (claim_id
    * nulled for ~1/7 of rows — an upstream-writer failure the cleanse
    * cannot see) is staged on a branch, audited by [[DqEngine]]'s full
    * 23-expectation silver suite, FAILS (not-null/uniqueness), and is
    * rolled back; then the clean batch stages, passes, and `main`
    * fast-forwards to it. The query reads `main`; the DuckDB oracle is
    * the two-batch silver — equality proves the failing batch never
    * reached main and the passing one landed exactly once. */
  def wapE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_pre97", sfDir) { dir =>
      append(spark, s"$dir/silver",
        FixtureCache.silverPre1997(spark, sfDir))
    }
    val tableDir = s"$d/silver"
    truncateTo(spark, tableDir, 1)
    val good = FixtureCache.silverPost1997(spark, sfDir)
    val bad = good.withColumn("claim_id",
      when(pmod(crc32(col("claim_id")), lit(7)) === 0,
        lit(null).cast("string")).otherwise(col("claim_id")))
    def gate(batch: DataFrame): Boolean =
      DqEngine.run(batch, DqEngine.silverSuite)
        .filter(col("success") === false).isEmpty
    val (_, okBad) = writeAuditPublish(spark, tableDir, bad)(gate)
    require(!okBad, "corrupted batch must fail the audit")
    val (_, okGood) = writeAuditPublish(spark, tableDir, good)(gate)
    require(okGood, "clean batch must pass the audit")
    keyCols(readRef(spark, tableDir, "main"))
  }

  /** `q_schema_evolution`: add-column evolution committed as ROOT
    * metadata. The cached fixture appends v1 = pre-1997 silver, then
    * v2 = the 1997+ batch carrying a NEW `adjudication_source` column;
    * the commit merges the schema into the root, so the latest read
    * resolves it O(1) (no footer sweep) and v1 files surface NULL. The
    * query aggregates by the new column (older rows grouped under
    * 'none'); the DuckDB oracle replays both batches and tags them the
    * same way — equality proves old data, new data, and the evolved
    * schema agree. SnapshotSpec pins that a v1 time-travel read never
    * sees the column. */
  def schemaEvolutionE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_evolve", sfDir) { dir =>
      val t = s"$dir/silver"
      append(spark, t, FixtureCache.silverPre1997(spark, sfDir))
      append(spark, t, FixtureCache.silverPost1997(spark, sfDir)
        .withColumn("adjudication_source",
          when(col("claim_amount") > 1000, lit("manual"))
            .otherwise(lit("auto"))))
    }
    read(spark, s"$d/silver")
      .withColumn("adjudication_source",
        coalesce(col("adjudication_source"), lit("none")))
      .groupBy(col("service_year"), col("adjudication_source"))
      .agg(count(lit(1)).as("n_claims"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_year"), col("adjudication_source"))
  }

  /** `q_manifest_compact`: explicit manifest rewrite as an oracle-
    * checked query. The cached fixture builds the silver as TWELVE
    * disjoint appends (a day's worth of micro-commits); each run resets
    * to that state and runs [[SnapshotTable.compactManifests]] — a
    * metadata-only commit merging the chunk list down to 2 partition-
    * ordered chunks — then reads the table. The DuckDB oracle is the
    * full-silver recompute, so equality proves the rewrite is
    * content-preserving; SnapshotSpec pins the chunk count and that no
    * data file moved. */
  def manifestCompactE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_micro_commits_v3", sfDir) {
      dir =>
        val silver = FixtureCache.silverFull(spark, sfDir)
        // twelve cadence commits, each landing in ITS OWN partition
        // slice (the real micro-commit shape: a batch touches the
        // partitions of its time window, not the whole table) and
        // coalesced per commit. Slicing by key hash instead wrote
        // every slice into all ~84 partitions — thousands of tiny
        // files whose content-verification read dominated the timing.
        // The slices' union is still exactly the full silver.
        (0 until 12).foreach(i =>
          append(spark, s"$dir/silver",
            silver.filter(pmod(coalesce(
              col("service_year") * 12 + col("service_month"), lit(0)),
              lit(12)) === i).repartition(2),
            op = s"append-$i"))
    }
    val tableDir = s"$d/silver"
    truncateTo(spark, tableDir, 12)
    compactManifests(spark, tableDir, targetChunks = 2)
    keyCols(read(spark, tableDir))
  }

  // ------------------------------------------------------------------
  // Table statistics (round-12): metadata row counts, ANALYZE NDV
  // sketches, and the metadata-driven broadcast decision.
  // ------------------------------------------------------------------

  /** The two-batch snapshot silver committed WITH per-file row counts
    * (every data commit records them since round 12; this fixture name
    * is distinct from pre-row-count caches so the counts are
    * guaranteed present). Shared by the stats/NDV/CBO queries. */
  private[graft] def countedTwoBatchTable(spark: SparkSession,
      sfDir: String): String = {
    val d = FixtureCache.cachedDir(spark, "snap_counted", sfDir) { dir =>
      append(spark, s"$dir/silver", FixtureCache.silverPre1997(spark, sfDir))
      append(spark, s"$dir/silver", FixtureCache.silverPost1997(spark, sfDir))
    }
    s"$d/silver"
  }

  /** `q_snapshot_stats`: per-partition EXACT row counts from commit
    * metadata alone — [[SnapshotTable.rowCountsByPartition]] touches
    * roots and chunks, never a data file (the catalog row-count
    * surface a CBO reads; at 100 TB this answers "how big is each
    * partition" in O(metadata)). The DuckDB oracle recomputes the
    * two-batch silver and counts per partition — equality proves the
    * metadata counts are the data's truth. */
  def statsE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    Engine.configure(spark)
    val tableDir = countedTwoBatchTable(spark, sfDir)
    val counts = rowCountsByPartition(spark, tableDir).getOrElse(
      throw new IllegalStateException(
        "counted fixture must carry per-file row counts"))
    val rows = counts.toSeq.map { case ((y, m), n) =>
      Row(y.map(Integer.valueOf).orNull, m.map(Integer.valueOf).orNull, n)
    }
    val schema = StructType(Seq(
      StructField("service_year", IntegerType, nullable = true),
      StructField("service_month", IntegerType, nullable = true),
      StructField("n_claims", LongType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(col("service_year"), col("service_month"))
  }

  /** `q_snapshot_ndv`: ANALYZE-pass NDV sketches as an oracle-checked
    * query. The cached fixture runs [[SnapshotTable.analyzeTable]]
    * over three silver columns (one distinct-hash top-k pass each,
    * persisted as the version's sidecar); the query reads the SIDECAR
    * only and reports each column's KMV estimate. The DuckDB oracle
    * runs the engine-standard KMV mirror (md5 hash60, k=64, identical
    * estimator arithmetic) over the recomputed silver — byte-equality
    * proves the persisted sketch is exactly the sketch of the live
    * data, which is what makes it safe for a planner to trust. */
  def ndvE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_analyzed", sfDir) { dir =>
      append(spark, s"$dir/silver", FixtureCache.silverPre1997(spark, sfDir))
      append(spark, s"$dir/silver", FixtureCache.silverPost1997(spark, sfDir))
      analyzeTable(spark, s"$dir/silver",
        Seq("claim_id", "member_id", "provider_name"))
    }
    val stats = tableStats(spark, s"$d/silver").getOrElse(
      throw new IllegalStateException("analyzed fixture must have a sidecar"))
    val rows = stats.kmv.keys.toSeq.sorted.map { c =>
      Row(c, stats.ndv(c).get)
    }
    val schema = StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("ndv_kmv", DoubleType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(col("column_name"))
  }

  /** The tiny provider dimension (8 rows) committed as its own
    * snapshot table — the broadcast side of the CBO join. */
  private def providerDimTable(spark: SparkSession, sfDir: String)
      : String = {
    val d = FixtureCache.cachedDir(spark, "snap_dim_provider", sfDir) {
      dir =>
        val dim = read(spark, countedTwoBatchTable(spark, sfDir))
          .select(col("provider_name")).distinct()
          .withColumn("provider_tier",
            when(col("provider_name") === "UNKNOWN", lit("none"))
              .otherwise(concat(lit("t"),
                (substring(col("provider_name"), 6, 1).cast("int") % 3)
                  .cast("string"))))
        append(spark, s"$dir/dim", dim)
    }
    s"$d/dim"
  }

  /** `q_partition_evolution`: Iceberg-style partition-spec evolution
    * as an oracle-checked query. The cached fixture appends the
    * pre-1997 silver under the standard month-grain spec, EVOLVES the
    * spec to day grain (a metadata-only commit — no file moves), and
    * appends the 1997+ batch, which lands in `service_day=` leaf
    * directories. The query reads the whole table — month-spec rows
    * resolve service_day from the DATA, day-spec rows from the PATH —
    * and aggregates per month including a day-derived measure. The
    * DuckDB oracle replays both batches through the cleanse chain
    * (where service_day is always data) — equality proves the two
    * layouts carry identical rows and the evolution changed the
    * table's organization, never its content. */
  def partitionEvolutionE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_pevolve_v2", sfDir) { dir =>
      val t = s"$dir/silver"
      append(spark, t, FixtureCache.silverPre1997(spark, sfDir))
      evolvePartitions(spark, t,
        Seq("service_year", "service_month", "service_day"))
      // cluster the day-grain batch by its partition tuple first: each
      // task then owns whole days, so a day directory gets ~1 file
      // instead of one per (input task × day) — without this the
      // mixed-layout verification read pays for ~20k tiny files
      append(spark, t, FixtureCache.silverPost1997(spark, sfDir)
        .repartition(col("service_year"), col("service_month"),
          col("service_day")))
    }
    read(spark, s"$d/silver")
      .groupBy(col("service_year"), col("service_month"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("service_day")).as("n_days"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_year"), col("service_month"))
  }

  /** `q_hidden_partitioning`: the hidden-partitioning read as an
    * oracle-checked query. The caller predicates ONLY on the data
    * column — a service_date range crossing a year boundary — and
    * [[SnapshotTable.planScanByDate]] derives the covering (year,
    * month) partitions from the transform itself, composed with the
    * per-file date zones of the date-clustered table for sub-month
    * pruning. The DuckDB oracle aggregates the FULL silver under the
    * same row predicate — equality proves the derived pruning is
    * lossless while the caller never named a partition column. */
  def hiddenPartitioningE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Engine.configure(spark)
    val tableDir = dateClusteredTable(spark, sfDir)
    val (df, _, _) = planScanByDate(spark, tableDir, "service_date",
      "1995-11-15", "1996-02-14")
    df.filter(col("service_date") >= lit("1995-11-15").cast("date") &&
        col("service_date") <= lit("1996-02-14").cast("date"))
      .groupBy(col("service_year"), col("service_month"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_year"), col("service_month"))
  }

  /** `q_catalog_txn`: MULTI-TABLE transactions via the versioned
    * catalog ([[SnapshotCatalog]]) as an oracle-checked query. The
    * cached fixture runs two transactions: txn 1 commits the pre-1997
    * silver and its gold rollup, then pins {silver→v1, gold→v1} as
    * catalog v1; txn 2 appends the 1997+ batch, republishes ONLY the
    * changed partitions of gold (manifest-diff pruned, partition-
    * aligned recompute), and pins {silver→v2, gold→v2} as catalog v2 —
    * each pair atomic in one catalog CAS. The query reads GOLD through
    * BOTH catalog versions; the DuckDB oracle recomputes the rollup
    * from batch 1 alone (catalog v1) and both batches (catalog v2) —
    * equality proves every catalog version serves the gold consistent
    * with its paired silver (no torn silver/gold read at either cut).
    * The spec adds the crash shape: a table commit without its catalog
    * commit leaves readers at the old consistent pair. */
  def catalogTxnE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import SnapshotCatalog.Pin
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_catalog", sfDir) { dir =>
      val silverDir = s"$dir/silver"
      val goldDir = s"$dir/gold"
      val cat = s"$dir/_catalog"
      val sv1 = append(spark, silverDir,
        FixtureCache.silverPre1997(spark, sfDir))
      val gv1 = append(spark, goldDir,
        IncrementalGold.goldOf(read(spark, silverDir, Some(sv1))))
      SnapshotCatalog.commit(spark, cat,
        Seq(Pin("silver", silverDir, sv1), Pin("gold", goldDir, gv1)),
        op = "publish-1")
      val sv2 = append(spark, silverDir,
        FixtureCache.silverPost1997(spark, sfDir))
      val changed = changedPartitionsBetween(spark, silverDir, sv1, sv2)
      val gv2 = overwritePartitions(spark, goldDir,
        IncrementalGold.goldOf(IncrementalGold.partitionSlice(
          read(spark, silverDir, Some(sv2)), changed)),
        Some(changed), op = "publish-2")
      SnapshotCatalog.commit(spark, cat,
        Seq(Pin("silver", silverDir, sv2), Pin("gold", goldDir, gv2)),
        op = "publish-2")
    }
    val cat = s"$d/_catalog"
    def goldAt(cv: Int) =
      SnapshotCatalog.readTable(spark, cat, "gold", Some(cv))
        .select(col("service_year"), col("service_month"),
          col("claim_amount_category"), col("total_claims"),
          col("unique_members"), col("total_amount"), col("n_flagged"))
        .withColumn("catalog_version", lit(cv))
    goldAt(1).unionByName(goldAt(2))
      .orderBy(col("catalog_version"), col("service_year"),
        col("service_month"), col("claim_amount_category"))
  }

  /** `q_zorder_scan`: multi-dimensional zone pruning on an APPENDS-
    * ONLY-after-clustering table, as an oracle-checked query. The
    * cached fixture Z-ORDERS the pre-1997 silver on (service_date,
    * claim_amount) — [[SnapshotTable.clusterZOrder]] interleaves the
    * two columns' bucket bits under boundaries from ONE multi-column
    * quantile pass, rewrites each partition along the curve, and
    * records order + boundaries in the root — then APPENDS the 1997+
    * batch as an ordinary [[SnapshotTable.append]], which the write
    * path clusters against the SAME persisted curve (z-order on
    * write: no quantile pass, no maintenance rewrite). The query then
    * answers a 2-D predicate (a date range × an amount band) through
    * one [[SnapshotTable.planScan]] carrying two ZonePredicates, so
    * files — original AND appended — are skipped on whichever
    * dimension excludes them. The DuckDB oracle aggregates the FULL
    * silver under the same row predicate — equality proves the 2-D
    * pruning lossless across both write paths; SnapshotSpec pins that
    * it actually engages on both dimensions and on the appended
    * files. */
  def zorderScanE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_zorder_v2", sfDir) { dir =>
      append(spark, s"$dir/silver",
        FixtureCache.silverPre1997(spark, sfDir))
      clusterZOrder(spark, s"$dir/silver",
        Seq("service_date", "claim_amount"))
      // an ORDINARY append — the write path must keep the curve
      append(spark, s"$dir/silver",
        FixtureCache.silverPost1997(spark, sfDir))
    }
    val (df, _, _) = planScan(spark, s"$d/silver", None, Seq(
      ZonePredicate.str("service_date", "1996-04-01", "1996-06-30"),
      ZonePredicate.num("claim_amount", 1000.0, 100000.0)))
    df.filter(col("service_date") >= lit("1996-04-01").cast("date") &&
        col("service_date") <= lit("1996-06-30").cast("date") &&
        col("claim_amount") >= 1000.0 && col("claim_amount") <= 100000.0)
      .groupBy(col("service_month"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("member_id")).as("unique_members"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("service_month"))
  }

  /** `q_stream_snapshot`: the NATIVE exactly-once streaming sink onto
    * the snapshot layer as an oracle-checked query. A file stream
    * drains two silver drops through foreachBatch into
    * [[SnapshotTable.streamAppend]], whose micro-batch id rides INSIDE
    * the CAS-committed root (one atomic artifact — the Iceberg
    * streaming-sink idempotence model; foreachBatch replays
    * at-least-once, the sink makes the append exactly-once). The run
    * then REPLAYS the last batch by hand with the same (sink, batch)
    * ids and requires it to skip without a commit. The DuckDB oracle
    * recomputes the two-batch silver — equality proves both batches
    * landed exactly once through a real checkpointed stream. */
  def streamSnapshotE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val base = s"target/stream_snapshot/${leafOf(sfDir)}"
    wipe(spark, base)
    val srcDir = s"$base/src"
    val tableDir = s"$base/silver"
    val ckpt = s"$base/ckpt"
    val sink = "silver_sink"
    @volatile var lastBatch = -1L
    def drain(): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (mb: org.apache.spark.sql.DataFrame, bid: Long) =>
          streamAppend(spark, tableDir, mb, sink, bid)
          lastBatch = math.max(lastBatch, bid)
          ()
        }
        .start()
      q.awaitTermination()
    }
    FixtureCache.silverPre1997(spark, sfDir)
      .write.mode("append").parquet(srcDir)
    drain()
    FixtureCache.silverPost1997(spark, sfDir)
      .write.mode("append").parquet(srcDir)
    drain()
    // the at-least-once shape: re-running the last batch body with the
    // same ids must be a metadata-checked no-op
    val vBefore = latestVersion(spark, tableDir)
    val replay = streamAppend(spark, tableDir,
      FixtureCache.silverPost1997(spark, sfDir), sink, lastBatch)
    require(replay.isEmpty && latestVersion(spark, tableDir) == vBefore,
      "replaying a committed micro-batch must not commit again")
    keyCols(read(spark, tableDir))
  }

  /** `q_catalog_wap`: CROSS-TABLE write-audit-publish as an
    * oracle-checked query. The cached fixture holds silver v1/v2 (the
    * two batches) and gold v1/v2 (the rollup of each), with catalog v1
    * pinning the consistent v1 pair. Each run then stages a BAD
    * transaction — silver repinned to v2 while gold is left at v1 (the
    * "forgot to republish" failure a single-table WAP cannot see) —
    * whose audit recomputes the rollup OF THE STAGED CUT and fails, so
    * the catalog rolls back and `main` never moves; then the GOOD pair
    * stages, audits consistent, and `main` fast-forwards. The query
    * reads gold through `main`; the DuckDB oracle recomputes the
    * both-batch rollup — equality proves main only ever advanced to
    * the audited consistent cut. */
  def catalogWapE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import SnapshotCatalog.Pin
    Engine.configure(spark)
    val d = FixtureCache.cachedDir(spark, "snap_catalog_wap", sfDir) {
      dir =>
        val silverDir = s"$dir/silver"
        val goldDir = s"$dir/gold"
        val sv1 = append(spark, silverDir,
          FixtureCache.silverPre1997(spark, sfDir))
        append(spark, goldDir,
          IncrementalGold.goldOf(read(spark, silverDir, Some(sv1))))
        val sv2 = append(spark, silverDir,
          FixtureCache.silverPost1997(spark, sfDir))
        val changed = changedPartitionsBetween(spark, silverDir, sv1, sv2)
        overwritePartitions(spark, goldDir,
          IncrementalGold.goldOf(IncrementalGold.partitionSlice(
            read(spark, silverDir, Some(sv2)), changed)),
          Some(changed), op = "publish-2")
    }
    val silverDir = s"$d/silver"
    val goldDir = s"$d/gold"
    val cat = s"target/catalog_wap/${leafOf(sfDir)}"
    wipe(spark, cat)
    SnapshotCatalog.commit(spark, cat,
      Seq(Pin("silver", silverDir, 1), Pin("gold", goldDir, 1)),
      op = "publish-1")
    SnapshotCatalog.setRef(spark, cat, "main", 1)
    def consistent(cv: Int): Boolean = {
      val silver = SnapshotCatalog.readTable(spark, cat, "silver", Some(cv))
      val want = IncrementalGold.goldOf(silver)
      // align by NAME: a parquet source surfaces partition columns
      // last whatever the declared schema order, and exceptAll
      // compares positionally
      val gold = SnapshotCatalog.readTable(spark, cat, "gold", Some(cv))
        .select(want.columns.map(col): _*)
      gold.exceptAll(want).isEmpty && want.exceptAll(gold).isEmpty
    }
    val (_, okBad) = SnapshotCatalog.writeAuditPublish(spark, cat,
      Seq(Pin("silver", silverDir, 2)))(consistent)
    require(!okBad, "the silver-only repin must fail the pair audit")
    val (_, okGood) = SnapshotCatalog.writeAuditPublish(spark, cat,
      Seq(Pin("silver", silverDir, 2), Pin("gold", goldDir, 2)))(consistent)
    require(okGood, "the republished pair must pass the audit")
    val mainV = SnapshotCatalog.getRef(spark, cat, "main").get
    SnapshotCatalog.readTable(spark, cat, "gold", Some(mainV))
      .select(col("service_year"), col("service_month"),
        col("claim_amount_category"), col("total_claims"),
        col("unique_members"), col("total_amount"), col("n_flagged"))
      .orderBy(col("service_year"), col("service_month"),
        col("claim_amount_category"))
  }

  /** `q_stream_source`: the snapshot table as a NATIVE streaming
    * SOURCE ([[graft.sources.SnapshotStreamProvider]]) as an oracle-
    * checked query. The cached fixture is the two-batch snapshot
    * silver; the query opens `readStream.format("graft-snapshot")`
    * over it and drains to a parquet sink with Trigger.AvailableNow —
    * offsets are SNAPSHOT VERSIONS, each micro-batch exactly a
    * manifest diff, so the stream observes only published commits
    * (StreamingSpec pins that an in-flight uncommitted write is never
    * read, and that a checkpointed restart resumes at the next unseen
    * commit). The DuckDB oracle recomputes both batches through the
    * cleanse chain — equality proves streamed == batch CDC. */
  def streamSourceE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = FixtureCache.snapshotTwoBatchTable(spark, sfDir)
    // the cached base is SHARED with q_snapshot_rollback, whose run
    // leaves a v3 rollback commit — reset to the two-batch state so
    // the streamed content is the fixture's, whatever ran before
    truncateTo(spark, tableDir, 2)
    val base = s"target/stream_source/${leafOf(sfDir)}"
    wipe(spark, base)
    val q = spark.readStream.format("graft-snapshot")
      .option("path", tableDir).load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    keyCols(spark.read.parquet(s"$base/out"))
  }

  /** `q_stream_cdc`: the streaming source over a table taking
    * MERGE-ON-READ traffic, as an oracle-checked query (round-14
    * VERDICT #4's done-criteria — this composition used to fail
    * loudly). The shared key-clustered base takes a [[SnapshotTable
    * .mergeMor]] upsert (equality delete + new rows in ONE commit) AND
    * a positional [[SnapshotTable.deleteWhere]] purge; a fresh
    * AvailableNow backfill then streams the table — planning ships
    * each split the doomed row positions its files carry
    * ([[SnapshotTable.deletePositionsFor]]), so the stream emits
    * EXACTLY the merged content while unreached splits keep the
    * vectorized path. The DuckDB oracle replays the latest-wins merge
    * chain and applies the purge predicate — row-level equality proves
    * the per-split delete application matches the batch read's
    * anti-join exactly. */
  def streamCdcE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val base = s"target/stream_cdc/${leafOf(sfDir)}"
    wipe(spark, base)
    val q = spark.readStream.format("graft-snapshot")
      .option("path", tableDir).load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    keyCols(spark.read.parquet(s"$base/out"))
  }

  /** `q_change_feed`: the row-level BATCH change feed as an
    * oracle-checked query ([[SnapshotTable.changeRowsBetween]] — the
    * retraction path the append-only streaming source hands off to).
    * The shared key-clustered base takes the same mergeMor +
    * deleteWhere traffic as q_stream_cdc; the feed over (v1, v3] must
    * emit: INSERTs = the update batch's rows still visible at v3 (a
    * row upserted then purged in-window nets out), DELETEs = the exact
    * pre-images — the base rows of every restated key (time-traveled
    * to v1) plus the merged view's rows the purge erased (time-
    * traveled to v2). The DuckDB oracle reconstructs all three sets
    * from the raw chain — row-level equality proves the feed's
    * markers and pre-images are exact. */
  def changeFeedE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    changeRowsBetween(spark, tableDir, 1, latestVersion(spark, tableDir))
      .select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("service_year"), col("service_month"), col("_change_type"))
      .orderBy(col("claim_id"), col("_change_type"), col("batch_id"))
  }

  /** `q_stream_change_feed`: the row-level change feed as a NATIVE
    * STREAMING source ([[graft.sources.SnapshotStreamProvider]] — closes
    * the append source's documented contract edge: deletes now stream
    * as retractions instead of being "the batch CDC path's job"). Same
    * fixture traffic as q_change_feed (mergeMor upsert + positional
    * purge on the shared key-clustered base); the stream starts AFTER
    * v1 (`startVersion`) and drains with AvailableNow, emitting
    * insert markers for the upsert's surviving rows and exact delete
    * pre-images planned as per-file positions
    * ([[SnapshotTable.preImagePositionsAt]]) — whole-file insert
    * splits decode vectorized, pre-image splits emit only their
    * positions. The DuckDB oracle is q_change_feed's: the streamed
    * multiset must equal the batch feed row-for-row. */
  def streamChangeFeedE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val base = s"target/stream_change_feed/${leafOf(sfDir)}"
    wipe(spark, base)
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", tableDir).option("startVersion", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$base/out")
      .select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("service_year"), col("service_month"), col("_change_type"))
      .orderBy(col("claim_id"), col("_change_type"), col("batch_id"))
  }

  /** `q_stream_replicate_maintained`: STREAMING REPLICATION THROUGH
    * MAINTENANCE ([[SnapshotTable.followAvailableNow]]) — the source
    * runs a real [[SnapshotTable.maintain]] pass (folding the merge's
    * whole MoR debt = genuine rewrite commits) in the MIDDLE of the
    * followed history, the exact event that kills a naive CDC stream
    * loudly. The follower streams each row-monotone leg through the
    * CDC source (`endVersion`-capped, one atomic applyChangeFeed
    * commit per micro-batch), overwrites the rewrite-touched
    * partitions with their truth at the rewrite, and resumes streaming
    * after it. The query reads THE MIRROR; the DuckDB oracle
    * recomputes the SOURCE's final content — equality proves the
    * recipe converges exactly across maintenance. 100 TB shape: legs ∝
    * change, recomputes ∝ partitions the maintenance touched. */
  def streamReplicateMaintainedE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    // a REAL maintenance pass mid-history: folds all the merge's
    // delete debt — rewrite commits a live CDC stream cannot cross
    maintain(spark, tableDir, morDebtRatio = 0.0)
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val base = s"target/stream_replicate_maintained/${leafOf(sfDir)}"
    wipe(spark, base)
    val mirror = s"$base/mirror"
    append(spark, mirror, read(spark, tableDir, Some(1)),
      statsColumns = Seq("claim_id"))
    followAvailableNow(spark, tableDir, mirror, key = "claim_id",
      workDir = s"$base/follow", fromVersion = 1)
    keyCols(read(spark, mirror))
  }

  /** `q_cdc_bulk_erase`: a BULK (GDPR-scale) erasure streamed
    * ROW-LEVEL through the CDC source — the workload that used to trip
    * the driver position ceiling and refuse. One `deleteWhere` commit
    * erases the bulk of the table (every claim ≤ 300k — the complement
    * of the purge the other CDC fixtures use); the stream runs with a
    * deliberately tiny `preImageEmbedMax` so the pre-image positions
    * take the SPILLED path at every SF: they stay a DataFrame, land in
    * a range-clustered executor-readable cache under the stream's
    * checkpoint, and the delete splits carry cache-file REFS — driver
    * memory O(files), no pacing, no refusal, regardless of how many
    * rows the one commit erased. The DuckDB oracle recomputes the
    * erased set's exact pre-images from the raw chain — row-level
    * equality proves the spilled path emits exactly what the embedded
    * path would. */
  def cdcBulkEraseE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    deleteWhere(spark, tableDir, col("claim_amount") <= 300000.0)
    val base = s"target/cdc_bulk_erase/${leafOf(sfDir)}"
    wipe(spark, base)
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", tableDir).option("startVersion", "1")
      .option("preImageEmbedMax", "100") // force the spilled path
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$base/out")
      .select(col("claim_id"), col("batch_id"), col("claim_amount"),
        col("service_year"), col("service_month"), col("_change_type"))
      .orderBy(col("claim_id"))
  }

  /** `q_stream_replicate`: STREAMING TABLE REPLICATION — the CDC
    * source composed with the idempotent feed apply
    * ([[SnapshotTable.applyChangeFeed]]): a mirror BOOTSTRAPPED from a
    * time-travel read of v1 follows the source through a mergeMor
    * upsert and a positional purge by streaming
    * `graft-snapshot-cdc` markers into one atomic apply commit per
    * micro-batch (equality-delete of the window's delete+insert keys +
    * the insert rows — zero reads of the mirror, zero rewrites;
    * replays converge, so at-least-once foreachBatch yields an
    * exactly-once mirror). The query reads THE MIRROR; the DuckDB
    * oracle recomputes the SOURCE's final content (latest-wins chain
    * minus the purge) — equality proves mirror == source row-for-row.
    * The 100 TB shape: replication cost ∝ change, never ∝ table. */
  def streamReplicateE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val base = s"target/stream_replicate/${leafOf(sfDir)}"
    wipe(spark, base)
    val mirror = s"$base/mirror"
    // bootstrap: the mirror starts as the source's v1 snapshot
    append(spark, mirror, read(spark, tableDir, Some(1)),
      statsColumns = Seq("claim_id"))
    val q = spark.readStream.format("graft-snapshot-cdc")
      .option("path", tableDir).option("startVersion", "1").load()
      .writeStream
      .foreachBatch { (mb: DataFrame, _: Long) =>
        applyChangeFeed(spark, mirror, mb, key = "claim_id"); ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    keyCols(read(spark, mirror))
  }

  /** `q_change_recompute`: the DEGRADABLE change feed
    * ([[SnapshotTable.changeRowsOrRecompute]]) consumed across a
    * window that CONTAINS A COMPACTION — the case where
    * changeRowsBetween and the CDC stream fail loudly and round-15
    * consumers hand-rolled the recovery. The source chain is
    * mergeMor → MoR-debt compaction (a genuine rewrite commit) →
    * positional purge; a mirror bootstrapped from v1 applies the
    * window's ChangeSet: row-level markers first
    * ([[SnapshotTable.applyChangeFeed]]), then the rewrite-touched
    * partitions overwritten wholesale with their content at the
    * window's end. The query reads THE MIRROR; the DuckDB oracle
    * recomputes the source's final content — equality proves the
    * split feed (rows + recompute) loses nothing across the rewrite.
    * 100 TB shape: rows ∝ window's change, recompute ∝ partitions the
    * maintenance pass touched — never ∝ table. */
  def changeRecomputeE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    // fold ALL the merge's delete debt — a real mid-window rewrite
    val folded = autoCompactMor(spark, tableDir, maxDebtRatio = 0.0)
    require(folded.nonEmpty, "fixture must exhibit a rewrite commit")
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val to = latestVersion(spark, tableDir)
    val base = s"target/change_recompute/${leafOf(sfDir)}"
    wipe(spark, base)
    val mirror = s"$base/mirror"
    append(spark, mirror, read(spark, tableDir, Some(1)),
      statsColumns = Seq("claim_id"))
    val cs = changeRowsOrRecompute(spark, tableDir, 1, to)
    cs.rows.foreach(r =>
      applyChangeFeed(spark, mirror, r, key = "claim_id"))
    cs.recompute.foreach(rc =>
      overwritePartitions(spark, mirror, rc, Some(cs.recomputeParts)))
    keyCols(read(spark, mirror))
  }

  /** `q_replicate_chain`: REPLICATION COMPOSES — `apply-feed` commits
    * are row-monotone, so a mirror is itself a valid CDC source and a
    * mirror OF THE MIRROR converges to the source. The chain is the
    * q_stream_replicate topology twice: source → mirror1 (CDC stream +
    * applyChangeFeed per window) → mirror2 (same, reading MIRROR1's
    * change feed). The query reads MIRROR2; the oracle recomputes the
    * SOURCE's final content — equality proves second-hop replication
    * is exact, the fan-out topology a 100 TB deployment uses to avoid
    * N mirrors all streaming the primary. */
  def replicateChainE2e(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val base = s"target/replicate_chain/${leafOf(sfDir)}"
    wipe(spark, base)
    def follow(src: String, dst: String, ckpt: String): Unit = {
      append(spark, dst, read(spark, src, Some(1)),
        statsColumns = Seq("claim_id"))
      val q = spark.readStream.format("graft-snapshot-cdc")
        .option("path", src).option("startVersion", "1").load()
        .writeStream
        .foreachBatch { (mb: DataFrame, _: Long) =>
          applyChangeFeed(spark, dst, mb, key = "claim_id"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    follow(tableDir, s"$base/mirror1", s"$base/ckpt1")
    follow(s"$base/mirror1", s"$base/mirror2", s"$base/ckpt2")
    keyCols(read(spark, s"$base/mirror2"))
  }

  /** `q_maintain`: the one-call MAINTENANCE driver
    * ([[SnapshotTable.maintain]] — the OPTIMIZE analog a scheduler
    * runs) as an oracle-checked query: after mergeMor + deleteWhere
    * traffic, one `maintain` pass folds the delete debt (refs
    * auto-drop — asserted against the root), bounds per-partition file
    * counts, and leaves CONTENT BYTE-IDENTICAL — the DuckDB oracle is
    * the same latest-wins-minus-purge recompute as q_stream_cdc, so
    * equality proves maintenance changed the physical layout and
    * nothing else. */
  def maintainE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val tableDir = keyClusteredBase(spark, sfDir)
    truncateTo(spark, tableDir, 1)
    mergeMor(spark, tableDir, FixtureCache.movedBatch(spark, sfDir))
    deleteWhere(spark, tableDir, col("claim_amount") > 300000.0)
    val report = maintain(spark, tableDir,
      morDebtRatio = 0.0, // every reached partition folds
      maxFilesPerPartition = 8)
    require(report.morCompactedPartitions > 0,
      "the MoR debt pass must fold the reached partitions")
    val root = manifest(spark, tableDir,
      latestVersion(spark, tableDir))
    val (eqRefs, posRefs) = liveDeletes(spark, tableDir)
    require(eqRefs.isEmpty && posRefs.isEmpty,
      "folding every reached partition must auto-drop all delete refs")
    require(root.files.nonEmpty, "maintenance must not lose data")
    keyCols(read(spark, tableDir))
  }

  /** One catalog-transactional micro-batch: silver lands exactly-once
    * via [[SnapshotTable.streamAppend]] (the batch id rides in the
    * CAS'd root), gold republishes the manifest-diff-changed
    * partitions of the CURRENT catalog cut, and ONE catalog CAS pins
    * the (silver, gold) pair — so a catalog reader can never observe
    * silver vN next to gold derived from vM≠N, however often
    * foreachBatch replays. Idempotence is compositional: a replayed
    * batch skips the silver commit (watermark) AND skips the catalog
    * commit (pins already at/above the silver version); a crash
    * BETWEEN silver and catalog repairs on the next batch, whose
    * catalog-pin diff then spans both commits. Single-writer cadence
    * per table pair, like every publish path here. */
  private[graft] def catalogTxnBatch(spark: SparkSession, catalogDir: String,
      silverDir: String, goldDir: String, mb: DataFrame, sinkId: String,
      batchId: Long): Unit = {
    import SnapshotCatalog.Pin
    streamAppend(spark, silverDir, mb, sinkId, batchId)
    val sv = latestVersion(spark, silverDir)
    val pinned = SnapshotCatalog.pins(spark, catalogDir)
      .get("silver").map(_.version).getOrElse(0)
    if (pinned >= sv) return // replay of a fully-published batch
    val changed = changedPartitionsBetween(spark, silverDir, pinned, sv)
    val silverNow = read(spark, silverDir, Some(sv))
    val gv =
      if (latestVersion(spark, goldDir) == 0)
        append(spark, goldDir, IncrementalGold.goldOf(silverNow))
      else overwritePartitions(spark, goldDir,
        IncrementalGold.goldOf(
          IncrementalGold.partitionSlice(silverNow, changed)),
        Some(changed), op = s"stream-$sinkId-$batchId")
    SnapshotCatalog.commit(spark, catalogDir,
      Seq(Pin("silver", silverDir, sv), Pin("gold", goldDir, gv)),
      op = s"stream-$sinkId-$batchId")
  }

  /** `q_stream_catalog_txn`: CATALOG-TRANSACTIONAL STREAMING as an
    * oracle-checked query (round-12 plan #5). A file stream drains two
    * silver drops through foreachBatch into [[catalogTxnBatch]]: each
    * micro-batch commits silver exactly-once, republishes gold's
    * changed partitions, and pins the pair in ONE catalog CAS. The run
    * then REPLAYS the last batch by hand with the same ids and
    * requires the catalog not to move (composed idempotence). The
    * query reads GOLD through BOTH catalog versions; the DuckDB oracle
    * recomputes the rollup of batch 1 (catalog v1) and of both batches
    * (catalog v2) — equality proves every published cut pairs gold
    * with exactly its silver, across a checkpointed stream with
    * replays. */
  def streamCatalogTxnE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    Engine.configure(spark)
    val base = s"target/stream_catalog_txn/${leafOf(sfDir)}"
    wipe(spark, base)
    val srcDir = s"$base/src"
    val silverDir = s"$base/silver"
    val goldDir = s"$base/gold"
    val cat = s"$base/_catalog"
    val sink = "silver_sink"
    @volatile var lastBatch = -1L
    def drain(): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (mb: DataFrame, bid: Long) =>
          catalogTxnBatch(spark, cat, silverDir, goldDir, mb, sink, bid)
          lastBatch = math.max(lastBatch, bid)
          ()
        }
        .start()
      q.awaitTermination()
    }
    FixtureCache.silverPre1997(spark, sfDir)
      .write.mode("append").parquet(srcDir)
    drain()
    FixtureCache.silverPost1997(spark, sfDir)
      .write.mode("append").parquet(srcDir)
    drain()
    // composed idempotence: replaying the last batch must move NOTHING
    val cvBefore = SnapshotCatalog.latestVersion(spark, cat)
    val svBefore = latestVersion(spark, silverDir)
    catalogTxnBatch(spark, cat, silverDir, goldDir,
      FixtureCache.silverPost1997(spark, sfDir), sink, lastBatch)
    require(SnapshotCatalog.latestVersion(spark, cat) == cvBefore &&
      latestVersion(spark, silverDir) == svBefore,
      "a replayed micro-batch must not re-commit silver or the catalog")
    def goldAt(cv: Int) =
      SnapshotCatalog.readTable(spark, cat, "gold", Some(cv))
        .select(col("service_year"), col("service_month"),
          col("claim_amount_category"), col("total_claims"),
          col("unique_members"), col("total_amount"), col("n_flagged"))
        .withColumn("catalog_version", lit(cv))
    goldAt(1).unionByName(goldAt(2))
      .orderBy(col("catalog_version"), col("service_year"),
        col("service_month"), col("claim_amount_category"))
  }

  /** `q_snapshot_cbo`: the metadata-driven broadcast decision as an
    * oracle-checked query. The fact side is the two-batch silver
    * snapshot; the dim side comes through [[SnapshotTable.readCbo]],
    * whose EXACT metadata row count (8) is under the threshold, so the
    * join plans as a broadcast hash join with zero data-sizing passes
    * (PlanSpec pins the plan with autoBroadcastJoinThreshold
    * disabled — the decision is the metadata's, not Spark's size
    * estimate). The DuckDB oracle recomputes the same join over the
    * raw chain — equality proves the hinted plan changes nothing but
    * the strategy. */
  def cboE2e(spark: SparkSession, sfDir: String): DataFrame = {
    Engine.configure(spark)
    val fact = read(spark, countedTwoBatchTable(spark, sfDir))
    val dim = readCbo(spark, providerDimTable(spark, sfDir))
    fact.join(dim, Seq("provider_name"))
      .groupBy(col("provider_tier"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("provider_name")).as("n_providers"),
        graft.functions.Exact.dsum(col("claim_amount")).as("total_amount"))
      .orderBy(col("provider_tier"))
  }
}
