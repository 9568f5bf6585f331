package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = core.SessionConfigs.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // adversarial-config selector (config-robustness matrix): a named
    // graft.core.SessionConfigs preset — the driver leaves it unset
    // (default); tools/config_matrix.sh sweeps the presets and asserts
    // every deterministic query dumps hash-identically under each
    val confName = sys.env.getOrElse("SPARK_GRAFT_CONF", "default")
    core.SessionConfigs(spark, confName)
    System.err.println(s"[verify] session config preset: $confName")
    new java.io.File(outDir).mkdirs()
    // subset filter for local iteration (same contract as Bench); the
    // driver leaves it unset and gets the full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    (SparkEntry.queries ++ SparkEntry.auxDumps)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
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
    // __OUTDIR__ resolves here: oracles that replay a pipeline over an
    // auxDumps artifact need the concrete path the driver chose this run
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__OUTDIR__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
