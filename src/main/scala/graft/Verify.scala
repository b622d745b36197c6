package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.Try
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * Exits 1, after writing every other dump, if any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: GRAFT_VERIFY_ONLY=q111,q114 runs (and dumps
    // oracles for) just the named query prefixes; unset = everything
    // (the driver's path).
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(keep))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write each query's result to `outDir/<name>` as parquet and return
    * the names of the queries that failed. A failing query (any
    * non-fatal exception, which is what `Try` catches) does not stop
    * the others; a fatal error does. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] =
    queries.toSeq.flatMap { case (name, fn) =>
      val run = Try(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      run.failed.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      // queries that .cache() intermediates (q36/q51/q58, and their
      // dependents) would otherwise pin them for the whole run
      spark.catalog.clearCache()
      run.failed.toOption.map(_ => name)
    }

  /** The oracle SQL of the kept queries as one JSON object (name → SQL),
    * the input of tools/check_oracle.py. Escapes backslash, quote and
    * ALL control chars (<0x20): a tab or CR in builder-authored SQL
    * would otherwise make json.load fail. */
  def oracleJson(keep: String => Boolean): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
