package graft.infra

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet table's schema and row count read from file footers on
  * the driver — file metadata only, never a Spark job.
  *
  * `spark.read.parquet(path)` without a schema starts a distributed job
  * (`ParquetUtils.inferSchema`) that reads ONE footer: the first data
  * file in full-path order, non-merging (the session default). [[schema]]
  * reads that same file with the same Spark code on the driver, so a
  * `spark.read.schema(s)` read plans no inference job; the file index
  * still adds hive `k=v` partition columns. Parquet summary files
  * (`_metadata`, `_common_metadata`), which Spark would prefer when
  * present, are not consulted: Spark does not write them by default.
  *
  * [[rowCount]] sums the footers' record counts — what
  * `spark.read.parquet(path).count()` answers from row-group metadata,
  * minus its schema job and its two count jobs.
  *
  * One read-options object per pass: each call builds one
  * `ParquetReadOptions` from the caller's conf and every footer it opens
  * reuses it. The single-argument `ParquetFileReader.open(inputFile)`
  * builds its options from a fresh `Configuration`, whose first lookup
  * parses core-default.xml out of the jar — about 13 ms per file on a
  * 4-vCPU box, several times the footer read itself. The options apply no row-group filter,
  * so a filter predicate left in the conf never changes a count.
  */
object Footers {

  /** Spark's file-index name filter (`HadoopFSUtils.shouldFilterOutPathName`
    * less its summary-file exception): `_x` and `.x` entries are
    * bookkeeping — `_SUCCESS`, `_temporary`, a landed table's `_delta/`
    * — unless they are `k=v` partition dirs.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  /** The data files Spark reads under `path` (a file or a directory
    * tree), lazily, in full-path order: a dir sorts as `name/`, so
    * `a/x` follows `a-b/x` exactly as the path strings do.
    */
  private def dataFiles(path: String): Iterator[Path] = {
    val fs = Fs.fs(path)
    def walk(st: FileStatus): Iterator[Path] =
      if (!st.isDirectory) Iterator(st.getPath)
      else fs.listStatus(st.getPath)
        .filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(walk)
    val p = new Path(path)
    if (fs.exists(p)) walk(fs.getFileStatus(p)) else Iterator.empty
  }

  /** `path`'s data schema as Spark infers it, or None when no data file
    * exists — the caller then lets Spark's own read raise its error.
    * Call it after any parquet read conf (`nanosAsLong`) is set: the
    * converter reads the session conf when it is built.
    */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    dataFiles(path).nextOption().map { f =>
      val converter =
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      val reader = opener(spark.sessionState.newHadoopConf())(f)
      try ParquetFileFormat.readSchemaFromFooter(
        new Footer(f, reader.getFooter), converter)
      finally reader.close()
    }

  /** Rows under `path` (0 when it is missing or holds no data file). */
  def rowCount(path: String): Long = {
    val open = opener(Fs.conf)
    dataFiles(path).map { f =>
      val reader = open(f)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Opens footers under `conf` with one shared, unfiltered options
    * object — build it once per pass, not once per file.
    */
  private def opener(conf: Configuration): Path => ParquetFileReader = {
    val options = HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.NOOP).build()
    f => ParquetFileReader.open(HadoopInputFile.fromPath(f, conf), options)
  }
}
