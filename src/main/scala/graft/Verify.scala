package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. With
  * `SPARK_GRAFT_ONLY=q_a,q_b` it runs and writes the oracle SQL of just
  * those queries, so `scripts/check_oracle.py` checks only them:
  * {{{
  *   SPARK_GRAFT_ONLY=q_cms_topk_docs sbt "runMain graft.Verify <sf-dir> <out-dir>"
  *   python3 scripts/check_oracle.py <sf-dir> <out-dir>
  * }}} */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = core.Session.local(core.Session.cpus)
    new java.io.File(outDir).mkdirs()
    // None (variable unset) runs and writes every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected[V](m: Map[String, V]): Map[String, V] =
      only.fold(m)(names => m.filter(kv => names(kv._1)))
    selected(SparkEntry.queries).foreach { case (name, fn) =>
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
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
