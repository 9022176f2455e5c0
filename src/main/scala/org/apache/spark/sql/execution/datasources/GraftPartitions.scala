package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's own partition-path parser, which is private to
  * this package: the manifest-backed scan of
  * [[org.apache.spark.sql.GraftSparkInternals.parquetScan]] parses its
  * files' partition values exactly as `InMemoryFileIndex` would. */
object GraftPartitions {

  /** The partition spec of leaf directories `dirs` under `basePath`,
    * typed by `schema` where it names a partition column, under the
    * session's inference settings. */
  def parse(dirs: Seq[Path], basePath: Path, schema: Option[StructType],
      timeZoneId: String, conf: SQLConf): PartitionSpec =
    PartitioningUtils.parsePartitions(dirs,
      conf.partitionColumnTypeInferenceEnabled, Set(basePath), schema,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns, timeZoneId,
      conf.ignoreInvalidPartitionPaths)
}
