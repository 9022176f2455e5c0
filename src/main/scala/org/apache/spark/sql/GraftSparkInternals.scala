package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileIndexOptions, GraftPartitions, HadoopFsRelation, PartitionDirectory,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The narrow bridge graft's DataSource-V2 streaming source uses to
  * reach Spark's own parquet read machinery (`private[sql]` surface,
  * hence this file's package): instead of hand-rolling a parquet
  * decoder inside the source's PartitionReader, the source plans with
  * the SAME `PartitionedFile => Iterator[InternalRow]` closure
  * FileSourceScanExec ships to executors — full type support (INT96 /
  * µs timestamps, dates, decimals), predicate-safe NULL handling, and
  * one maintained read path instead of two.
  *
  * The ROW function is built with the VECTORIZED reader disabled on a
  * cloned session: the vectorized path can yield ColumnarBatch objects
  * through the Iterator[InternalRow] interface (FileSourceScanExec
  * special-cases that), which a row-based DSv2 PartitionReader must
  * never receive. The BATCH function (round-14 VERDICT #3's named
  * upgrade path) is the same closure built vectorized, exposed only
  * when ParquetFileFormat itself guarantees whole batches for the
  * schema (`supportBatch` — the exact test FileSourceScanExec runs
  * before declaring a columnar scan), so the caller's columnar
  * PartitionReader can cast unconditionally.
  *
  * Snapshot-table reads ([[parquetScan]]) are planned over the
  * manifest's own file statuses, the way Delta's log-backed file index
  * does, instead of letting `spark.read.parquet` list every file again,
  * and carry per-file constant columns next to the partition values. */
object GraftSparkInternals { // public: graft.sources and operators call it

  private def cloned(spark: SparkSession, vectorized: Boolean)
      : org.apache.spark.sql.classic.SparkSession = {
    val session = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    session.conf.set("spark.sql.parquet.enableVectorizedReader",
      vectorized.toString)
    session
  }

  /** A serializable per-file reader: rows come out as `requiredSchema`
    * fields followed by `partitionSchema` fields (the partition values
    * are appended from [[PartitionedFile.partitionValues]]). */
  def parquetReaderFunc(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType)
      : PartitionedFile => Iterator[InternalRow] = {
    val session = cloned(spark, vectorized = false)
    new ParquetFileFormat().buildReaderWithPartitionValues(
      session, dataSchema, partitionSchema, requiredSchema,
      Nil, Map.empty,
      session.sessionState.newHadoopConfWithOptions(Map.empty))
  }

  /** The VECTORIZED per-file reader: yields whole [[ColumnarBatch]]es
    * of `requiredSchema` fields followed by `partitionSchema` fields
    * (partition values ride as constant column vectors). None when the
    * parquet format cannot guarantee batches for this schema (nested /
    * non-atomic types, vectorization disabled session-wide) — the
    * caller falls back to [[parquetReaderFunc]], exactly as
    * FileSourceScanExec falls back to a row scan. */
  def parquetBatchReaderFunc(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType)
      : Option[PartitionedFile => Iterator[ColumnarBatch]] = {
    val session = cloned(spark, vectorized = true)
    val fmt = new ParquetFileFormat()
    val resultSchema =
      StructType(requiredSchema.fields ++ partitionSchema.fields)
    if (!fmt.supportBatch(session, resultSchema)) None
    else {
      // ParquetFileFormat demands the caller state the batch contract
      // explicitly whenever the vectorized reader is on
      val opts = Map(
        org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "true")
      val f = fmt.buildReaderWithPartitionValues(
        session, dataSchema, partitionSchema, requiredSchema,
        Nil, opts,
        session.sessionState.newHadoopConfWithOptions(Map.empty))
      // with supportBatch true the vectorized reader emits ColumnarBatch
      // through the Iterator[InternalRow] interface (the erased-cast
      // contract FileSourceScanExec itself relies on)
      Some(pf => f(pf).asInstanceOf[Iterator[ColumnarBatch]])
    }
  }

  /** One `column <op> literal` bound found in a predicate's top-level
    * conjuncts. `op` ∈ {">", ">=", "<", "<=", "="} with the column on
    * the LEFT (flipped if the literal was). Numeric literals carry
    * `num`; strings and DATE literals carry their lexicographic ISO
    * rendering in `str`. */
  final case class PredBound(column: String, op: String,
      numeric: Boolean, num: Double, str: String)

  /** The derivable bounds of a predicate [[Column]], read from its
    * ColumnNode tree (Spark 4 hides the expression behind the node
    * indirection; the node classes are private[sql], hence this
    * file's package). Only shapes whose semantics are certain yield a
    * bound — `AND` splits, `column <cmp> literal` (either order)
    * records, everything else (OR, casts of columns, function calls,
    * IN) contributes nothing, so a consumer pruning by these bounds
    * can only over-read, never drop a matching row. */
  def predicateBounds(c: Column): Seq[PredBound] = {
    import org.apache.spark.sql.internal._
    def conjuncts(n: ColumnNode): Seq[ColumnNode] = n match {
      case f: UnresolvedFunction
          if f.functionName.equalsIgnoreCase("and") =>
        f.arguments.flatMap(conjuncts)
      case other => Seq(other)
    }
    def nameOf(n: ColumnNode): Option[String] = n match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def litOf(n: ColumnNode): Option[(Boolean, Double, String)] = n match {
      case l: Literal => l.value match {
        case null => None
        case v: java.lang.Number =>
          Some((true, v.doubleValue(), v.toString))
        case v: String => Some((false, Double.NaN, v))
        case v: java.sql.Date =>
          Some((false, Double.NaN, v.toLocalDate.toString))
        case v: java.time.LocalDate => Some((false, Double.NaN, v.toString))
        case _ => None
      }
      case cast: Cast
          if cast.dataType == org.apache.spark.sql.types.DateType =>
        litOf(cast.child).flatMap { case (_, _, s) =>
          scala.util.Try(java.time.LocalDate.parse(s)).toOption
            .map(d => (false, Double.NaN, d.toString))
        }
      case _ => None
    }
    val flip = Map(">" -> "<", "<" -> ">", ">=" -> "<=", "<=" -> ">=",
      "=" -> "=", "==" -> "=")
    conjuncts(c.node).flatMap {
      case f: UnresolvedFunction if flip.contains(f.functionName) &&
          f.arguments.size == 2 =>
        val a = f.arguments.head
        val b = f.arguments(1)
        val op = if (f.functionName == "==") "=" else f.functionName
        (nameOf(a), litOf(b), nameOf(b), litOf(a)) match {
          case (Some(n), Some(v), _, _) =>
            Seq(PredBound(n, op, v._1, v._2, v._3))
          case (_, _, Some(n), Some(v)) =>
            Seq(PredBound(n, flip(op), v._1, v._2, v._3))
          case _ => Nil
        }
      case _ => Nil
    }
  }

  /** A parquet scan of exactly `statuses` as a DataFrame, planned with
    * no listing and no Spark job, over a [[ManifestFileIndex]]. The
    * relation is the one `spark.read.options(options).option("basePath",
    * basePath).schema(schema).parquet(paths: _*)` resolves to — a
    * LogicalRelation, partition columns parsed from the paths under
    * `basePath` (typed by `schema` where it names them), data schema =
    * `schema` minus those columns — so partition pruning, `inputFiles`
    * and the `_metadata` columns behave as on a listed read. After the
    * partition columns come the `constants` columns: file i's values are
    * `values(i)` (Catalyst form), appended to each of its rows the way
    * partition values are. With no `schema` the data schema is inferred
    * from the same statuses' footers. */
  def parquetScan(spark: SparkSession, basePath: String,
      statuses: Seq[FileStatus], schema: Option[StructType],
      options: Map[String, String], constants: StructType = new StructType(),
      values: Seq[InternalRow] = Nil): DataFrame = {
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val opts = CaseInsensitiveMap(options + ("basePath" -> basePath))
    val base = new Path(basePath)
    val qualifiedBase = base.getFileSystem(
      session.sparkContext.hadoopConfiguration).makeQualified(base)
    val dirs = statuses.map(_.getPath.getParent).distinct
    val spec = GraftPartitions.parse(dirs, qualifiedBase, schema,
      opts.getOrElse(FileIndexOptions.TIME_ZONE, conf.sessionLocalTimeZone),
      conf)
    val partOf = spec.partitions.map(p => p.path -> p.values).toMap
    val extras =
      if (values.isEmpty) statuses.map(_ => InternalRow.empty) else values
    val fileValues = statuses.zip(extras).map { case (st, extra) =>
      val part =
        if (spec.partitionColumns.isEmpty) InternalRow.empty
        else partOf.getOrElse(st.getPath.getParent,
          throw new IllegalStateException(
            s"${st.getPath} is outside the partition layout under $basePath"))
      InternalRow.fromSeq(part.toSeq(spec.partitionColumns) ++
        extra.toSeq(constants))
    }
    val index = new ManifestFileIndex(statuses, fileValues,
      StructType(spec.partitionColumns ++ constants))
    val format = new ParquetFileFormat()
    val fileSchema = schema
      .orElse(format.inferSchema(session, opts, statuses))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet schema in the ${statuses.size} files under $basePath"))
    val resolver = conf.resolver
    val dataSchema = StructType(fileSchema.filterNot(f =>
      index.partitionSchema.exists(p => resolver(p.name, f.name))))
    session.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema.asNullable, None, format,
      opts)(session))
  }

  /** A [[FileIndex]] over a fixed file set, the way Delta's log-backed
    * index serves the log's files: the statuses the caller gathered,
    * each in its own directory entry carrying its partition and
    * constant values (`values(i)` for file i, in `partitionSchema`
    * order). Nothing is listed, re-stat'ed or cached; partition filters
    * prune by those values as Spark's own indexes do. */
  private final class ManifestFileIndex(files: Seq[FileStatus],
      values: Seq[InternalRow], override val partitionSchema: StructType)
      extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def inputFiles: Array[String] =
      files.map(_.getPath.toUri.toString).toArray
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def refresh(): Unit = ()
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val dirs = files.zip(values).collect {
        case (st, v) if st.getLen > 0 => PartitionDirectory(v, Array(st))
      }
      val names = partitionSchema.fieldNames.toSet
      val pruning = partitionFilters.filter(_.references.forall(a =>
        names.contains(a.name)))
      if (pruning.isEmpty) dirs
      else {
        val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        dirs.filter(d => keep.eval(d.values))
      }
    }
  }

  def partitionedFile(partitionValues: InternalRow, absolutePath: String,
      length: Long): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPathString(absolutePath),
      0L, length, Array.empty, 0L, length, Map.empty)

  /** One parquet file's schema from its footer alone: a driver-side
    * read of a few KB, never Spark's schema-inference job. */
  def parquetFileSchema(spark: SparkSession, status: FileStatus)
      : StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status,
      spark.sparkContext.hadoopConfiguration))
    try new ParquetToSparkSchemaConverter(SQLConf.get)
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  /** Every row of the metadata-sized parquet files `statuses`, decoded
    * on the driver by [[parquetReaderFunc]] and copied out of the
    * reader's reused buffer: the values in Catalyst's internal form,
    * with no Spark job. */
  def parquetRowsOnDriver(spark: SparkSession, statuses: Seq[FileStatus],
      schema: StructType): Array[InternalRow] =
    if (statuses.isEmpty) Array.empty
    else {
      val read = parquetReaderFunc(spark, schema, new StructType(), schema)
      statuses.iterator.flatMap(st => read(partitionedFile(InternalRow.empty,
        st.getPath.toString, st.getLen)).map(_.copy())).toArray
    }
}
