package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, md5, substring, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** One named, oracle-checkable query: the unit of the driver's correctness
  * gate. `oracle` is equivalent ANSI SQL runnable by DuckDB over the same
  * parquet tables; None -> the driver records a weaker rows-only check
  * (used only for ops whose output is not SQL-expressible, e.g.
  * approx_count_distinct).
  */
final case class Q(
    name: String,
    section: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  /** Load one driver testdata table (TESTDATA.md): `<dir>/<name>.parquet`,
    * a flat file or a directory of part files.
    *
    * The schema comes from ONE parquet footer read on the driver — the
    * footer Spark's own inference would read: a flat file as is; in a
    * directory `_common_metadata`, else `_metadata`, else the first data
    * file by path (`_`/`.` files skipped). It goes through Spark's own
    * footer conversion (the stored Spark row schema when the writer left
    * one), so the frame is the inferred one, but building it starts no
    * Spark job: a schema-less `spark.read.parquet` runs one inference job
    * per read. A missing table throws here, naming the path.
    *
    * `events.ts` has shipped as either parquet TIMESTAMP(NANOS) (which
    * Spark reads only as a nanos long, via the legacy `nanosAsLong` conf —
    * set before the footer conversion, which reads it) or plain
    * TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ), depending
    * on the generator run. Normalize BOTH to a session-zone (UTC)
    * microsecond TIMESTAMP — exactly what DuckDB's `CAST(ts AS TIMESTAMP)`
    * yields for either layout, so oracle comparisons agree. The conf is
    * set only when the footer already read shows `ts` as NANOS; it is
    * session-wide and stays set, so after such a read every later parquet
    * read in the session turns a NANOS column into a bare long instead of
    * failing. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val footer = readFooter(spark, path)
    if (name == "events" && tsIsNanos(footer))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => // integer div, not `/` (double loses bits on ~1.7e18 nanos)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // micros: NTZ -> session-zone timestamp, value preserved
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Whether the footer stores `ts` as parquet TIMESTAMP(NANOS). */
  private def tsIsNanos(footer: Footer): Boolean = {
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  private def readFooter(spark: SparkSession, path: String): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root) // FileNotFoundException naming the path
    val file = if (!status.isDirectory) status else {
      val files = fs.listStatus(root).filter(_.isFile).sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet data file in $path"))
    }
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try new Footer(file.getPath, reader.getFooter) finally reader.close()
  }
}

/** md5 digests in the query layer, each engine form with its DuckDB twin
  * beside it. Every `substring(md5(...))` of the board goes through here. */
object Md5 {
  /** `len` hex digits of md5(`c`) from the 1-based digit `from`. */
  def md5Hex(c: Column, from: Int, len: Int): Column = substring(md5(c), from, len)

  /** DuckDB twin of [[md5Hex]] over the SQL expression `x`. */
  def md5HexSql(x: String, from: Int, len: Int): String =
    s"substring(md5($x), $from, $len)"

  /** DuckDB twin of [[graft.functions.ColumnFns.md5Long]]: the first 15
    * hex digits of md5(`x`) as a BIGINT in [0, 2^60). */
  def md5LongSql(x: String): String = s"CAST('0x' || ${md5HexSql(x, 1, 15)} AS BIGINT)"
}
