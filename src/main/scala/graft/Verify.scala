package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for fast
    // single-query iteration (driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = HarnessSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Echoed TIMESTAMP columns are session-local (UTC); written as-is
        // they'd carry parquet's isAdjustedToUTC flag while the DuckDB
        // oracle (reading the naive testdata) yields naive values — the
        // driver's pandas compare then sees tz-aware vs naive. Cast to
        // TIMESTAMP_NTZ: identical wall-clock under the pinned-UTC
        // session, naive on disk, matching the oracle byte-for-byte.
        // The rewrite recurses through structs/arrays/maps so a query
        // echoing timestamps nested inside containers gets the same
        // treatment as a top-level column.
        import org.apache.spark.sql.types._
        def ntz(dt: DataType): DataType = dt match {
          case TimestampType => TimestampNTZType
          case s: StructType =>
            StructType(s.fields.map(f => f.copy(dataType = ntz(f.dataType))))
          case a: ArrayType  => a.copy(elementType = ntz(a.elementType))
          case m: MapType    =>
            m.copy(keyType = ntz(m.keyType), valueType = ntz(m.valueType))
          case other         => other
        }
        val naive = df.select(df.schema.fields.map { f =>
          val target = ntz(f.dataType)
          if (target == f.dataType) org.apache.spark.sql.functions.col(f.name)
          else org.apache.spark.sql.functions.col(f.name)
            .cast(target).as(f.name)
        }.toIndexedSeq: _*)
        naive.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally
        // Release intermediates persisted inside the query builders
        // (dd3/dd8/mm5/…): left cached, a 100-query sweep accumulates
        // every query's cache blocks in one session.
        SparkEntry.releaseTracked(); spark.catalog.clearCache()
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
    // "${OUT}" in oracle SQL resolves to this run's output directory:
    // signature-replay oracles read an engine-specific intermediate
    // (minhash/simhash signatures, IVF centroids, k-gram hashes) back
    // from the query's own parquet output and independently re-derive
    // everything downstream of it. The same DuckDB process provably
    // reads these files — it already reads them for the result compare.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("${OUT}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
