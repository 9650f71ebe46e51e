package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: GRAFT_ONLY=q1,q2 runs a subset. The driver
    // never sets it, so the gate always runs the full inventory.
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Per-query Spark output schema (name:catalogType, decimal width/scale
    // included) — tools/check.py reads this file and diffs each SPARK
    // logical type against the DuckDB oracle's DESCRIBE (scalars only,
    // normalized into one type space). This catches engine types the
    // parquet round-trip erases (a decimal narrowed on write, a long that
    // became an int); timestamp FLAVORS (ltz/ntz) normalize together by
    // construction — DuckDB's oracle DESCRIBE has no NTZ notion.
    val schemas = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // build and write in one pin scope: the query's pins (an operator's
      // prologue pins too) are freed before the next query starts
      try Pin.scope {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.fields
          .map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/spark_schemas.json"), schemaJson)
    spark.stop()
  }
}
