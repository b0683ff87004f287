package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet schemas read on the driver, without a Spark job.
  *
  * `spark.read.parquet(p)` with no schema launches a distributed job to
  * read footers when the relation is built, even when `mergeSchema` is off
  * and it reads just one. Every schema-less read in graft instead passes
  * [[footerSchema]] to `spark.read.schema(...)`: the same footer, the same
  * conversion, read in-process. The relation makes every field nullable,
  * exactly as inference does, so the frame's `df.schema` is unchanged.
  */
object ParquetFooter {

  /** The schema of one parquet footer: `path` itself when it is a file,
    * else the first data file of the directory `path` by name, skipping
    * names that start with `_` or `.` as Spark's listing does. Spark's
    * own footer conversion: the row-metadata schema a Spark writer
    * recorded, else the session-configured converter (so `nanosAsLong`
    * and the timestamp-NTZ inference still apply). */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file: FileStatus =
      if (!status.isDirectory) status
      else fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file in $path to read a schema from"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try new Footer(file.getPath, reader.getFooter) finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
