package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter (builder-side
    // single-query iteration; the driver always runs the full dump).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
        sys.exit(2)
    }
    val spark = graft.core.GraftSession.getOrCreate("graft-verify")
    try run(spark, sfDir, outDir, only) finally spark.stop()
  }

  /** The dump itself, session-agnostic (specs drive it on the shared
    * test session; main owns session lifecycle). */
  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // oracle_sql.json goes FIRST: if the JVM dies or is timed out partway
    // through the query loop, the driver still has the oracle map and
    // every already-written result dir — a partial round must degrade to
    // partial signal, never to an empty one (round 5's correctness record
    // came back {} with no per-query rows to explain why).
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query status, rewritten after EVERY query: a post-mortem of an
    // aborted run shows exactly which query was in flight ("running") and
    // what each finished one did.
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def writeStatus(): Unit = Files.writeString(Paths.get(s"$outDir/_status.json"),
      status.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).sortBy(_._1).foreach { case (name, fn) =>
      status(name) = "running"; writeStatus()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        status(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = s"failed: ${e.getMessage}"
        // Leave a READABLE result dir even on failure: a comparator that
        // iterates oracle keys and opens each dir must meet a parquet
        // file here, not ENOENT — a missing dir crashing the driver's
        // loop would zero every OTHER query's signal along with this
        // one (the leading explanation for round 5's empty record). The
        // marker column cannot match any oracle, so the query still
        // reads as a per-query FAIL, never a silent pass.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("_verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${e2.getMessage}")
        }
      }
      writeStatus()
    }
  }
}
