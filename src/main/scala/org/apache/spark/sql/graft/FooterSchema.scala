// Hosted under org.apache.spark.sql for the session state (SQL conf and
// Hadoop conf), which the classic session exposes only to this package.
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The Spark schema of one parquet file, read from its footer on the
  * driver.
  *
  * `spark.read.parquet(path)` with no schema infers one by launching a
  * Spark job that reads the footers; for a single file that job costs
  * more than the read itself. This is the same conversion the
  * inference job runs per footer (`ParquetFileFormat.readSchemaFromFooter`
  * with a converter built from the session's SQL conf — binary-as-
  * string, INT96, timestamp-NTZ inference, nanos-as-long), done
  * inline. */
object FooterSchema {

  /** The file's schema, or None when `path` is not a single existing
    * file (a directory or a missing path: the caller falls back to
    * Spark's own inference and its errors). */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[ClassicSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.isFile(p)) None
    else {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(p, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(p, meta),
        new ParquetToSparkSchemaConverter(state.conf)))
    }
  }
}
