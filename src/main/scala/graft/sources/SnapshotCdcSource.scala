package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSparkInternals, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.SnapshotTable

/** [[SnapshotTable]] as a NATIVE Structured Streaming source, under two
  * format names served by ONE planner and ONE reader (Delta's change
  * data feed shape: the change markers ride on top of the append
  * stream). Offsets are snapshot versions, so both formats get the
  * table's own isolation guarantees instead of a raw directory
  * listing's races:
  *
  *  - an IN-FLIGHT writer's files (staged, moved into the tree, root
  *    not yet CAS-published) are NEVER read — only a published root
  *    names files, so the stream can't observe a torn commit;
  *  - each window (from, to] resolves from root/chunk reads — no
  *    per-batch listing, no O(live files) work at 100 TB;
  *  - offsets are checkpointable versions: restart resumes at the next
  *    unseen commit; `.option("maxVersionsPerBatch", n)` caps each
  *    micro-batch to n versions (admission control at the commit
  *    grain), and Trigger.AvailableNow pins its target once.
  *
  * `graft-snapshot` (the APPEND stream, options `path` and
  * `maxVersionsPerBatch`): each micro-batch is the window's MANIFEST
  * DIFF — exactly the files appended in it. A live merge-on-read
  * equality/positional delete reaching those files is APPLIED: planning
  * computes the doomed row positions per file
  * ([[SnapshotTable.deletePositionsFor]]) and the split reader skips
  * them, so a backfill of a mergeMor-fed table emits exactly its merged
  * content. Deletes committed AFTER a file was streamed are NOT
  * retracted — append streams don't un-emit; retraction is the change
  * feed's job. Copy-on-write OVERWRITE commits stream their replacement
  * files (full partition content — the semantics of
  * [[SnapshotTable.readFilesAdded]], whose docs own the rationale);
  * partition-spec-evolved tables must stream from a version whose added
  * files carry the current spec.
  *
  * `graft-snapshot-cdc` (the CHANGE FEED, adding `startVersion`,
  * `endVersion` and `preImageEmbedMax`): each micro-batch carries the
  * insert/delete markers of its window, matching
  * [[SnapshotTable.changeRowsBetween]] exactly:
  *
  *  - `_change_type = "insert"`: rows of files ADDED in the window, as
  *    visible at `to` (a row inserted then MoR-erased in-window nets
  *    out of the insert arm and surfaces only as its delete pre-image);
  *  - `_change_type = "delete"`: the EXACT PRE-IMAGES of rows erased
  *    by delete refs committed in the window, read from their immutable
  *    files as visible at each delete's parent version
  *    ([[SnapshotTable.preImagePositionsFrame]] plans the positions;
  *    the split reader emits ONLY those row indices);
  *  - `_commit_version`: the commit that added the file / committed the
  *    delete — consumers order replays without a second metadata read.
  *
  * `startVersion` begins the feed after a bootstrap snapshot read;
  * `endVersion` caps it (one row-monotone leg between rewrites,
  * [[SnapshotTable.followAvailableNow]]). Copy-on-write rewrites and
  * rollbacks have no row-level delta — a window containing one fails
  * LOUDLY, same as the batch feed (consumers recompute those partitions
  * via the coarse contract). Vacuumed roots in range fail loudly too:
  * retention bounds how far back the changelog reaches.
  *
  * Both formats share everything else: column pruning pushed into the
  * parquet scan, per-directory length listing, files BIN-PACKED into
  * ~maxPartitionBytes splits, and VECTORIZED decode — whole-file splits
  * hand ColumnarBatches through (the change columns ride as constant
  * vectors); positioned splits decode vectorized and emit row-wise. */
abstract class SnapshotStreamProvider(changeFeed: Boolean)
    extends TableProvider with DataSourceRegister {

  override def shortName(): String =
    if (changeFeed) "graft-snapshot-cdc" else "graft-snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"${shortName()} requires .option(\"path\", <snapshot table dir>)"))
    val table = SnapshotTable.tableSchema(SparkSession.active, dir)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot schema at $dir — the table needs at least one " +
          "data commit"))
    if (changeFeed) StructType(table.fields ++ SnapshotCdc.ExtraFields)
    else table
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = CaseInsensitiveMap(properties.asScala.toMap)
    val dir = opts.getOrElse("path",
      throw new IllegalArgumentException("missing path"))
    val maxVersionsPerBatch = opts.get("maxVersionsPerBatch").map(_.toInt)
    val o =
      if (!changeFeed) SnapshotStreamOptions(dir, changeFeed = false,
        maxVersionsPerBatch = maxVersionsPerBatch)
      else SnapshotStreamOptions(dir, changeFeed = true,
        opts.get("startVersion").map(_.toInt).getOrElse(0),
        maxVersionsPerBatch,
        opts.get("preImageEmbedMax").map(_.toLong)
          .getOrElse(SnapshotCdc.DefaultEmbedMax),
        opts.get("endVersion").map(_.toInt))
    new SnapshotSourceTable(o, schema)
  }
}

class SnapshotSourceProvider extends SnapshotStreamProvider(false)
class SnapshotCdcProvider extends SnapshotStreamProvider(true)

/** What one stream reads: the table, which format, and its options. */
private[graft] case class SnapshotStreamOptions(dir: String,
    changeFeed: Boolean, startVersion: Int = 0,
    maxVersionsPerBatch: Option[Int] = None,
    preImageEmbedMax: Long = SnapshotCdc.DefaultEmbedMax,
    endVersion: Option[Int] = None) {
  def format: String =
    if (changeFeed) "graft-snapshot-cdc" else "graft-snapshot"
}

private[sources] object SnapshotCdc {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  val ExtraFields: Array[StructField] = Array(
    StructField(ChangeType, StringType, nullable = false),
    StructField(CommitVersion, IntegerType, nullable = false))
  def isExtra(name: String): Boolean =
    name == ChangeType || name == CommitVersion
  /** Driver embed budget for pre-image positions per micro-batch;
    * commits beyond it SPILL their positions to an executor-readable
    * cache instead of failing (`.option("preImageEmbedMax", n)`). */
  val DefaultEmbedMax = 2000000L
  /** The spilled positions cache's schema — what
    * [[graft.operators.SnapshotTable.preImagePositionsFrame]] yields. */
  val PosCacheSchema: StructType = StructType(Seq(
    StructField("__rel", StringType, nullable = false),
    StructField("__ri", LongType, nullable = false)))
}

private[sources] class SnapshotSourceTable(o: SnapshotStreamOptions,
    schema0: StructType) extends Table with SupportsRead {
  override def name(): String = s"${o.format}:`${o.dir}`"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new SnapshotScanBuilder(o, schema0)
}

private[sources] class SnapshotScanBuilder(o: SnapshotStreamOptions,
    full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // column pruning pushed into the parquet scan — an id-only consumer
    // of a wide table never decodes the wide columns
    if (requiredSchema.nonEmpty) required = requiredSchema
  }
  override def build(): Scan = new SnapshotScan(o, full, required)
}

private[sources] class SnapshotScan(o: SnapshotStreamOptions,
    full: StructType, required: StructType) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"${o.format} ${o.dir} [${required.fieldNames.mkString(",")}]"
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new SnapshotMicroBatchStream(o, full, required,
      Some(checkpointLocation).filter(_.nonEmpty))
}

/** Offset = snapshot version (0 = before the first commit). */
private[graft] case class SnapshotOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}
private[graft] object SnapshotOffset {
  private val Re = """\{\s*"version"\s*:\s*(\d+)\s*\}""".r
  def parse(json: String): SnapshotOffset = json match {
    case Re(v) => SnapshotOffset(v.toInt)
    case other => throw new IllegalArgumentException(
      s"bad graft-snapshot offset: $other")
  }
}

/** One data file of a batch. `partValues` are catalyst values
  * (Int/Long/UTF8String/epoch-day Int) parsed from the file's partition
  * path segments at PLAN time. `keep` sets the meaning of the sorted
  * in-file row indices `positions`: false = they are SKIPPED (live MoR
  * deletes reaching an inserted file; empty for the overwhelmingly
  * common unreached file), true = ONLY they are emitted (delete slices
  * — the pre-images). A delete slice whose commit's erasure exceeded
  * the driver embed budget carries `posRefs` — the spilled
  * positions-cache parquet files covering `rel` — instead of embedded
  * `positions`: the reader loads its own file's row indices
  * EXECUTOR-side, so driver memory stays O(files) regardless of how
  * many rows one commit erased. */
private[graft] case class SnapshotFileSlice(absPath: String, length: Long,
    partValues: Array[Any], positions: Array[Long], keep: Boolean,
    changeType: String, commitVersion: Int, rel: String,
    posRefs: Seq[(String, Long)] = Nil)

/** One input split: BIN-PACKED file slices, so a large backfill batch
  * doesn't schedule one task per small file. */
private[graft] case class SnapshotInputPartition(
    slices: Seq[SnapshotFileSlice]) extends InputPartition

private[graft] class SnapshotMicroBatchStream(o: SnapshotStreamOptions,
    full: StructType, required: StructType,
    checkpointLocation: Option[String] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import o.{changeFeed, dir}

  private val spark = SparkSession.active
  // Trigger.AvailableNow pins the target version ONCE, so the run
  // drains exactly the commits that existed at start and terminates
  // even under concurrent writers
  @volatile private var availableNowTarget: Option[Int] = None

  /** Spilled pre-image positions live under the stream's OWN
    * checkpoint (executor-readable by the same shared-storage contract
    * checkpoints already require), so their lifecycle is the stream's:
    * dirs for committed batches are dropped in [[commit]], everything
    * in [[stop]], and a restart's replanned batch overwrites. */
  private val cacheRoot: Option[String] =
    if (changeFeed) checkpointLocation.map(c => s"$c/graft_cdc_pre")
    else None

  /** The change columns exist only in the change feed; an append
    * stream passes a table column of the same name through as data. */
  private def isExtra(name: String): Boolean =
    changeFeed && SnapshotCdc.isExtra(name)

  private def tableFields: Array[StructField] =
    full.fields.filterNot(f => isExtra(f.name))

  private def partCols: Seq[String] =
    SnapshotTable.currentPartCols(spark, dir).filter(c =>
      tableFields.map(_.name).contains(c))

  override def initialOffset(): Offset = SnapshotOffset(o.startVersion)
  override def deserializeOffset(json: String): Offset =
    SnapshotOffset.parse(json)

  private def dropCacheDirs(keep: Int => Boolean): Unit =
    cacheRoot.foreach { root =>
      try {
        val p = new Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p))
          fs.listStatus(p).foreach { st =>
            val name = st.getPath.getName
            if (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
                !keep(name.drop(1).toInt))
              fs.delete(st.getPath, true)
          }
      } catch { case _: java.io.IOException => () }
    }

  override def commit(end: Offset): Unit =
    dropCacheDirs(v => v > end.asInstanceOf[SnapshotOffset].version)
  override def stop(): Unit = dropCacheDirs(_ => false)

  private def capEnd(v: Int): Int = o.endVersion.fold(v)(math.min(v, _))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(capEnd(SnapshotTable.latestVersion(spark, dir)))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** ADMISSION CONTROL (the maxFilesPerTrigger analog at the commit
    * grain): `maxVersionsPerBatch` caps each micro-batch to that many
    * snapshot versions, so a months-deep backfill or changelog replay
    * becomes a paced sequence of bounded batches instead of one
    * table-sized one — under AvailableNow the run still drains to the
    * pinned target, just in capped steps. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(
      capEnd(SnapshotTable.latestVersion(spark, dir)))
    val capped = (o.maxVersionsPerBatch, Option(start)) match {
      case (Some(m), Some(s)) =>
        math.min(target, s.asInstanceOf[SnapshotOffset].version + m)
      case _ => target
    }
    SnapshotOffset(capped)
  }

  override def latestOffset(): Offset =
    latestOffset(null, ReadLimit.allAvailable())

  /** Catalyst value of one partition-path segment. */
  private def partValue(raw: Option[String], dt: DataType): Any =
    raw match {
      case None | Some("__HIVE_DEFAULT_PARTITION__") => null
      case Some(v) => dt match {
        case IntegerType => v.toInt
        case LongType => v.toLong
        case StringType => UTF8String.fromString(v)
        case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
        case other => throw new UnsupportedOperationException(
          s"${o.format}: unsupported partition column type $other")
      }
    }

  // MicroBatchScanExec.inputPartitions is a lazy val PER PLAN NODE,
  // and physical planning consults it on several transient node copies
  // (DataSourceV2Strategy's supportsColumnar probe, then each
  // preparation rule) — without memoization the delete-position and
  // pre-image jobs below re-run 4× per micro-batch (measured ~4 s each
  // at sf0.1). The plan for a (from, to] window is deterministic
  // (manifests are immutable per version), so one entry keyed by the
  // offset pair is exact; a single slot suffices because batches
  // advance monotonically.
  @volatile private var planCache
      : Option[((Int, Int), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val key = (start.asInstanceOf[SnapshotOffset].version,
      end.asInstanceOf[SnapshotOffset].version)
    planCache match {
      case Some((k, parts)) if k == key => parts
      case _ =>
        val parts = planInputPartitions0(key._1, key._2)
        planCache = Some((key, parts))
        parts
    }
  }

  /** A window's listing: inserted files with the version that added
    * them, embedded pre-image positions (rel, sorted row indices,
    * version) and spilled ones (rel, version, covering cache files). */
  private type Listing = (Seq[(String, Int)], Seq[(String, Array[Long], Int)],
    Seq[(String, Int, Seq[(String, Long)])])

  /** The append stream's window: its net manifest diff — no row-monotone
    * check, so overwrite commits stream their replacement files. */
  private def appendListing(from: Int, to: Int): Listing =
    (SnapshotTable.addedFilesBetween(spark, dir, from, to).sorted
      .map(_ -> to), Nil, Nil)

  /** The change feed's window: a per-version walk that validates
    * row-monotonicity, tracks added files per commit (for
    * `_commit_version`) and plans delete pre-images. Small erasures
    * EMBED their positions in the splits (no extra IO); once the
    * batch's embedded total would exceed the driver budget, a commit's
    * positions SPILL to an executor-readable range-clustered parquet
    * cache and its splits carry file REFS — so one bulk (GDPR-scale)
    * erasure streams row-level with driver memory O(files), no pacing,
    * no refusal. */
  private def changeListing(from: Int, to: Int): Listing = {
    var embedded = 0L
    var prevFiles =
      if (from == 0) Set.empty[String]
      else SnapshotTable.manifest(spark, dir, from).files.toSet
    val inserts = Seq.newBuilder[(String, Int)]
    val deletes = Seq.newBuilder[(String, Array[Long], Int)]
    val spilled = Seq.newBuilder[(String, Int, Seq[(String, Long)])]
    ((from + 1) to to).foreach { v =>
      val m = SnapshotTable.manifest(spark, dir, v) // loud if vacuumed
      if (!SnapshotTable.rowMonotoneOp(m.op))
        throw new UnsupportedOperationException(
          s"graft-snapshot-cdc at $dir: commit v$v is '${m.op}' — a " +
            "rewrite has no row-level delta; recompute those " +
            "partitions via changedPartitionsBetween + readFilesAdded")
      val cur = m.files.toSet
      (cur -- prevFiles).toSeq.sorted.foreach(rel =>
        inserts += ((rel, v)))
      prevFiles = cur
      if (v >= 2)
        SnapshotTable.preImagePositionsFrame(spark, dir, v).foreach {
          frame =>
            val pre = frame.persist()
            try {
              val n = pre.count()
              if (n == 0) ()
              else if (embedded + n <= o.preImageEmbedMax) {
                embedded += n
                pre.collect().groupBy(_.getString(0)).toSeq.sortBy(_._1)
                  .foreach { case (rel, rows) =>
                    deletes += ((rel, rows.map(_.getLong(1)).sorted, v))
                  }
              } else cacheRoot match {
                case Some(root) =>
                  spillPositions(pre, n, s"$root/v$v", v).foreach(s =>
                    spilled += s)
                case None => throw new IllegalStateException(
                  s"graft-snapshot-cdc at $dir: batch v$from..v$to " +
                    s"holds >${o.preImageEmbedMax} delete pre-image " +
                    "positions and no checkpoint location exists to " +
                    "spill them — pace with " +
                    ".option(\"maxVersionsPerBatch\", n)")
              }
            } finally { pre.unpersist(); () }
        }
    }
    (inserts.result(), deletes.result(), spilled.result())
  }

  private def planInputPartitions0(from: Int, to: Int)
      : Array[InputPartition] = {
    if (to <= from) return Array.empty
    val (added, delList, spilledList) =
      if (changeFeed) changeListing(from, to) else appendListing(from, to)
    // inserts stream as visible at `to`: live MoR deletes reaching the
    // added files ship their doomed positions with the split (empty map
    // when the table carries none)
    val doomedOf = SnapshotTable.deletePositionsFor(spark, dir, to,
      added.map(_._1))
    val pcs = partCols.map(c => c -> full(c).dataType)
    val statusOf = SnapshotTable.fileStatuses(spark, dir,
      added.map(_._1) ++ delList.map(_._1) ++ spilledList.map(_._1))
    def sliceOf(rel: String, positions: Array[Long], keep: Boolean,
        changeType: String, v: Int): SnapshotFileSlice = {
      val segs = rel.split("/").init.collect {
        case s if s.contains("=") =>
          s.takeWhile(_ != '=') -> s.dropWhile(_ != '=').tail
      }.toMap
      val values = pcs.map { case (c, dt) =>
        partValue(segs.get(c), dt) }.toArray
      val st = statusOf(rel)
      SnapshotFileSlice(st.getPath.toString, st.getLen, values, positions,
        keep, changeType, v, rel)
    }
    val insertSlices = added.map { case (rel, v) =>
      sliceOf(rel, doomedOf.getOrElse(rel, Array.empty), keep = false,
        "insert", v)
    }
    val deleteSlices = delList.map { case (rel, pos, v) =>
      sliceOf(rel, pos, keep = true, "delete", v)
    }
    // bin-pack path-ordered (≈ partition-ordered) files to the
    // session's split size, so a backfill over many small files
    // schedules O(bytes / maxPartitionBytes) tasks, not O(files)
    // (delete slices bill only their pre-image rows but length is a
    // fine upper bound)
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bins = Seq.newBuilder[SnapshotInputPartition]
    var cur = Vector.empty[SnapshotFileSlice]
    var curBytes = 0L
    (insertSlices ++ deleteSlices).foreach { s =>
      if (cur.nonEmpty && curBytes + s.length > maxBytes) {
        bins += SnapshotInputPartition(cur); cur = Vector.empty
        curBytes = 0L
      }
      cur :+= s; curBytes += s.length
    }
    if (cur.nonEmpty) bins += SnapshotInputPartition(cur)
    // spilled slices bin by CACHE FILE: every slice in the bin shares
    // its posRefs, so the reader loads each cache file ONCE and serves
    // all its rels from memory bounded by the cache file's target size
    // (~250k positions) — parallelism scales with the erasure, read
    // amplification stays 1×
    spilledList.map { case (rel, v, refs) =>
      sliceOf(rel, Array.empty, keep = true, "delete", v)
        .copy(posRefs = refs)
    }.groupBy(_.posRefs).toSeq.sortBy(_._2.head.rel).foreach {
      case (_, g) => bins += SnapshotInputPartition(g.sortBy(_.rel))
    }
    bins.result().toArray
  }

  /** Write one commit's pre-image positions to an EXECUTOR-readable
    * cache: range-clustered and sorted by (`__rel`, `__ri`) into
    * ~250k-position files, so each reader bin loads one bounded cache
    * file. Returns (rel, version, covering cache files) per affected
    * data file — O(files) driver state, never O(positions). */
  private def spillPositions(pre: org.apache.spark.sql.DataFrame,
      n: Long, cacheDir: String, v: Int)
      : Seq[(String, Int, Seq[(String, Long)])] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val k = math.max(1L, math.min(n / 250000L + 1L, 10000L)).toInt
    pre.repartitionByRange(k, col("__rel"), col("__ri"))
      .sortWithinPartitions("__rel", "__ri")
      .write.mode("overwrite").parquet(cacheDir)
    val cp = new Path(cacheDir)
    val cfs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byName = cfs.listStatus(cp).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName ->
        (cfs.makeQualified(st.getPath).toString, st.getLen)).toMap
    // per-cache-file (minRel, maxRel) in one small aggregation — the
    // rel → covering-file map costs O(cache files) driver-side
    val ranges = spark.read.schema(SnapshotCdc.PosCacheSchema)
      .parquet(cacheDir)
      .groupBy(input_file_name().as("__f"))
      .agg(min(col("__rel")).as("mn"), max(col("__rel")).as("mx"))
      .collect()
      .map { r =>
        val (p, len) = byName(r.getString(0).split("/").last)
        (r.getString(1), r.getString(2), p, len)
      }
    val relList = pre.select(col("__rel")).distinct()
      .collect().map(_.getString(0)).sorted
    relList.toSeq.map { rel =>
      val covering = ranges.iterator
        .filter(rg => rg._1 <= rel && rel <= rg._2)
        .map(rg => (rg._3, rg._4)).toSeq
      (rel, v, covering)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val pcs = partCols
    val tf = tableFields.map(_.name).toSet
    val partReq = StructType(required.fields.filter(f =>
      pcs.contains(f.name)))
    val dataReq = StructType(required.fields.filter(f =>
      tf.contains(f.name) && !pcs.contains(f.name)))
    val extraReq = StructType(required.fields.filter(f =>
      isExtra(f.name)))
    val dataSchema = StructType(tableFields.filterNot(f =>
      pcs.contains(f.name)))
    // rows come out of the parquet closure as dataReq ++ partReq; the
    // change columns follow, then the reader remaps to the scan's
    // declared order when they differ
    val emitted =
      StructType(dataReq.fields ++ partReq.fields ++ extraReq.fields)
    val readFunc = GraftSparkInternals.parquetReaderFunc(spark,
      dataSchema, partReq, dataReq)
    // the vectorized closure — None when the format can't guarantee
    // whole batches for this schema (then every split reads row-based)
    val batchFunc = GraftSparkInternals.parquetBatchReaderFunc(spark,
      dataSchema, partReq, dataReq)
    val posReadFunc =
      if (!changeFeed) None
      else Some(GraftSparkInternals.parquetReaderFunc(spark,
        SnapshotCdc.PosCacheSchema, new StructType(),
        SnapshotCdc.PosCacheSchema))
    new SnapshotReaderFactory(readFunc, batchFunc, emitted, required,
      extraReq,
      // partValues arrive in partCols order; the closure expects them
      // in partReq's order
      pcs.zipWithIndex.filter { case (c, _) =>
        partReq.fieldNames.contains(c) }.map(_._2).toArray, posReadFunc)
  }
}

private[graft] class SnapshotReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    batchFunc: Option[PartitionedFile => Iterator[ColumnarBatch]],
    emitted: StructType, required: StructType, extraReq: StructType,
    partValueIdx: Array[Int],
    posReadFunc: Option[PartitionedFile => Iterator[InternalRow]])
    extends PartitionReaderFactory {

  private def partRowOf(s: SnapshotFileSlice) =
    new GenericInternalRow(partValueIdx.map(s.partValues(_)))

  /** The constant per-slice extra values in extraReq order. */
  private def extraValues(s: SnapshotFileSlice): Array[Any] =
    extraReq.fieldNames.map {
      case SnapshotCdc.ChangeType => UTF8String.fromString(s.changeType)
      case SnapshotCdc.CommitVersion => s.commitVersion: Any
    }

  /** Emitted rows/batches need no rework: no change column to append
    * and the scan's declared order is the decode order. */
  private val passThrough = extraReq.isEmpty &&
    emitted.fieldNames.sameElements(required.fieldNames)

  /** Columnar only for whole-file insert slices (no positions to skip
    * or keep — a MoR-reached split filters per-row, so it decodes
    * row-based; unreached splits, the common case, stay vectorized). */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    batchFunc.nonEmpty && partition.asInstanceOf[SnapshotInputPartition]
      .slices.forall(s => !s.keep && s.positions.isEmpty)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val f = batchFunc.get
    val it = p.slices.iterator.flatMap { s =>
      f(GraftSparkInternals.partitionedFile(partRowOf(s),
        s.absPath, s.length)).map(b => (s, b))
    }
    val remap = required.fieldNames.map(emitted.fieldIndex)
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (s, b) = it.next()
          cur =
            if (passThrough) b
            else {
              // append the constant extras, then permute the vectors to
              // the declared order — zero-copy, the vectors themselves
              // move
              val extras = extraReq.fields.zip(extraValues(s)).map {
                case (fld, v) =>
                  val cv = new org.apache.spark.sql.execution.vectorized
                    .ConstantColumnVector(b.numRows(), fld.dataType)
                  v match {
                    case u: UTF8String => cv.setUtf8String(u)
                    case i: Int => cv.setInt(i)
                    case other => throw new IllegalStateException(
                      s"unsupported extra value $other")
                  }
                  cv: ColumnVector
              }
              val cols = (0 until b.numCols()).map(b.column) ++ extras
              val wrapped = new ColumnarBatch(remap.map(cols(_)))
              wrapped.setNumRows(b.numRows())
              wrapped
            }
          true
        } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotInputPartition]
    val project =
      if (passThrough) None
      else Some(UnsafeProjection.create(required.fields.map { f =>
        val i = emitted.fieldIndex(f.name)
        BoundReference(i, emitted(i).dataType, nullable = true)
      }.toIndexedSeq))
    val joined = new JoinedRow
    // spilled pre-image positions: the bin's slices share their cache
    // files, so load each ONCE into rel → sorted positions — executor
    // memory is bounded by the cache file's target size, regardless of
    // how many rows the whole commit erased
    lazy val spilledPos: Map[String, Array[Long]] = {
      val wanted = p.slices.iterator.filter(_.posRefs.nonEmpty)
        .map(_.rel).toSet
      val buf = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      p.slices.flatMap(_.posRefs).distinct.foreach { case (path, len) =>
        posReadFunc.get(GraftSparkInternals.partitionedFile(
          new GenericInternalRow(0), path, len)).foreach { r =>
            val rel = r.getUTF8String(0).toString
            if (wanted.contains(rel))
              buf.getOrElseUpdate(rel,
                new scala.collection.mutable.ArrayBuilder.ofLong) +=
                r.getLong(1)
          }
      }
      buf.iterator.map { case (k, b) =>
        val a = b.result(); java.util.Arrays.sort(a); k -> a
      }.toMap
    }
    // files of one split read sequentially (lazy concat — one open
    // reader at a time); each file contributes its own partition values
    val it = p.slices.iterator.flatMap { s =>
      val pf = GraftSparkInternals.partitionedFile(
        partRowOf(s), s.absPath, s.length)
      // VECTORIZED decode even for positioned slices: the rows surface
      // one at a time (ColumnarBatch.rowIterator keeps file order, so
      // the sequential index below is still the parquet row index) but
      // the parquet decode itself runs through the columnar reader —
      // the row-based ParquetRecordReader re-assembles every row
      // eagerly and measured several times slower on the pre-image
      // scans that dominate a CDC drain. Falls back to the row reader
      // when the format can't batch this schema.
      val rows: Iterator[InternalRow] = batchFunc match {
        case Some(bf) => bf(pf).flatMap { b =>
          val jt = b.rowIterator()
          new Iterator[InternalRow] {
            override def hasNext: Boolean = jt.hasNext
            override def next(): InternalRow = jt.next()
          }
        }
        case None => readFunc(pf)
      }
      val pos =
        if (s.posRefs.nonEmpty)
          spilledPos.getOrElse(s.rel, Array.empty[Long])
        else s.positions
      val filtered =
        if (pos.isEmpty && !s.keep) rows
        else {
          // sequential decode order IS the parquet row index — the
          // same addressing the positional sidecars record
          var idx = -1L
          rows.filter { _ =>
            idx += 1
            val hit = java.util.Arrays.binarySearch(pos, idx) >= 0
            if (s.keep) hit else !hit
          }
        }
      val withExtras =
        if (extraReq.isEmpty) filtered
        else {
          val extra = new GenericInternalRow(extraValues(s))
          filtered.map(r => joined(r, extra): InternalRow)
        }
      project.fold(withExtras)(pr => withExtras.map(pr(_)))
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
