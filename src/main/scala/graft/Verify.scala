package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). An optional third comma-separated
    // query-name filter is a dev-only convenience for iterating on one
    // operator without dumping the whole ~100-query surface.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    // a typo'd filter name would otherwise dump nothing and exit 0 — the
    // developer then mistakes a stale previous dump for fresh output
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names in filter: $unknown")
    }
    // oracle mode: md5 sketch hashes, so DuckDB can reproduce every bit
    val spark = Harness.session(Harness.cpus, bench = false)
    new java.io.File(outDir).mkdirs()
    // per-query failures are recorded HERE as well as on stderr: a query
    // that throws at dump time would otherwise just have no dump dir and
    // silently vanish from the driver's CORRECTNESS report — round 11's
    // 11 events-table casualties left no row at all and cost the judge a
    // diagnosis pass. errors.json makes an erroring query a visible
    // artifact of the round.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      Harness.isolate(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500)
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
    // under a dev filter, MERGE the filtered entries into any existing
    // oracle map rather than replacing it: each sibling dump dir was
    // written together with its oracle entry, so preserved entries stay
    // consistent with the dumps they describe, while a plain overwrite
    // would silently demote every other query to rows-only on the next
    // check_oracle.py pass over a previously-full dump dir
    val fresh = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    val jsonPath = Paths.get(s"$outDir/oracle_sql.json")
    val prior: Map[String, String] =
      if (only.isDefined && Files.exists(jsonPath)) {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(jsonPath.toFile, classOf[java.util.Map[String, String]])
          .asScala.toMap
      } else Map.empty
    // evict every FILTERED name from the prior map before merging: a
    // query just demoted to rows-only (entry deleted from oracleSql)
    // must not keep its obsolete SQL alive beside its fresh dump
    val json = (prior -- only.getOrElse(Set.empty) ++ fresh)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(jsonPath, json)
    // errors.json follows the SAME merge discipline as oracle_sql.json
    // above: under a dev filter, un-filtered queries' prior errors must
    // survive (a wholesale overwrite would re-enable the exact
    // 'erroring query vanishes without a trace' failure this file
    // prevents), while every FILTERED name is evicted so a just-fixed
    // query's stale error dies with its fresh dump
    val errPath = Paths.get(s"$outDir/errors.json")
    val priorErr: Map[String, String] =
      if (only.isDefined && Files.exists(errPath)) {
        // best-effort: errors.json is a diagnostic artifact — a corrupt
        // or hand-edited copy must not fail a Verify run whose dumps all
        // landed (round-12 ADVICE); fall back to an empty prior map
        try {
          import scala.jdk.CollectionConverters._
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readValue(errPath.toFile, classOf[java.util.Map[String, String]])
            .asScala.toMap
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[verify] unreadable prior errors.json (${e.getMessage}); " +
                "treating as empty")
            Map.empty
        }
      } else Map.empty
    Files.writeString(errPath,
      (priorErr -- only.getOrElse(Set.empty) ++ errors)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
