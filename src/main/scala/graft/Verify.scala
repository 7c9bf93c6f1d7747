package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=a,b runs a subset (driver sets nothing)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // total row order (all columns, nulls-first asc) mirrors the
        // oracle SQL's ORDER BY ALL NULLS FIRST wrapper
        val sorted = df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // One unmissable summary line: in round 9 a single adapter break made
    // 61 queries silently absent from the correctness JSON (each failure
    // was an isolated stderr line nobody aggregated). Absence must be
    // LOUD — but still write everything that succeeded, so one broken
    // query never zeroes the round.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] FAILED_QUERIES (${failed.size}/${selected.size}): " +
          failed.sorted.mkString(", "))
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // quantitative gates (no-oracle operators): any failed gate turns the
    // whole verify run red instead of hiding behind a rows-only check.
    // EVERY qc_* query that emits a boolean `pass` column is enforced —
    // adding a new gate query makes it load-bearing with no Verify edit.
    val gateQueries = SparkEntry.registry.map(_.name)
      .filter(_.startsWith("qc_"))
      .filter(n => only.forall(_.contains(n)))
    val gateOk = gateQueries.forall { name =>
      try {
        val df = spark.read.parquet(s"$outDir/$name")
        if (!df.columns.contains("pass")) true
        else {
          val failed = df
            .filter(!org.apache.spark.sql.functions.col("pass")).collect()
          failed.foreach(r =>
            System.err.println(s"[verify] QUANT_GATE_FAIL $name: $r"))
          failed.isEmpty
        }
      } catch { case e: Throwable =>
        System.err.println(
          s"[verify] QUANT_GATE_FAIL $name unreadable: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (!gateOk) sys.exit(2)
  }
}
