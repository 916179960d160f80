package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); the driver never sets
    // it, so its run always dumps the full map + full oracle_sql.json
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String) = only.forall(_.contains(name))
    // boundary-type guard (the q_ks_drift r15 lesson): Spark parquet
    // decimal decodes to pandas object(Decimal) while DuckDB DECIMAL
    // becomes float64, so a decimal column that survives to a query's
    // result hash-mismatches the driver even when the values are equal.
    // House rule: decimal internally, long/double at the boundary.
    def decimalCols(s: org.apache.spark.sql.types.StructType): Seq[String] = {
      import org.apache.spark.sql.types._
      def has(dt: DataType): Boolean = dt match {
        case _: DecimalType => true
        case a: ArrayType => has(a.elementType)
        case m: MapType => has(m.keyType) || has(m.valueType)
        case st: StructType => st.fields.exists(f => has(f.dataType))
        case _ => false
      }
      s.fields.filter(f => has(f.dataType)).map(_.name).toSeq
    }
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val dec = decimalCols(df.schema)
        require(dec.isEmpty, s"query $name leaks decimal-typed column(s) " +
          s"${dec.mkString(", ")} to the result boundary — cast to " +
          "long/double in both the query and its oracle (house rule)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // NonFatal: one query's failure must not abort the dump (the driver
      // compares per-query), but a VM error should still propagate
      catch { case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // dedup operators persist small intermediates; don't accumulate them
      // across the 32-query dump
      operators.CacheRegistry.release(spark)
      spark.catalog.clearCache()
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
