package graft
import java.nio.file.{Files, Paths}

/** Flat string→string map → JSON object text. JSON string escape covers
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load fail
  * and silently zero the round's correctness. Shared by [[Verify]] (the
  * driver artifact) and ContractSpec (the oracle-type gate), so the spec
  * checks the exact bytes the driver will parse; [[quote]] is also the
  * replay result sink's string escaper. */
object OracleJson {
  /** `s` as a JSON string literal, quotes included. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(m: Map[String, String]): String =
    m.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryNamePrefix ...] — optional prefixes narrow
    // the run for local iteration; the driver always passes exactly two.
    val Array(sfDir, outDir, filters @ _*) = args
    // Per-RUN landing root, keyed by this run's outDir but a SIBLING of
    // it, never inside it. A fixed /tmp path aliases across runs: a
    // later sf0.01 Verify overwrites the landed artifacts a
    // still-pending sf1 oracle is about to read, and the compare
    // silently grades run A's query against run B's bytes (r11
    // postmortem: p99's sf1 "mismatch" was exactly this). And a root
    // INSIDE outDir is swept by the driver's oracle loop as if it were
    // a query result — r11's phantom `_land` error row. oracle_sql.json
    // is dumped from the query map built AFTER this assignment, so its
    // read_parquet paths point at THIS run's artifacts. Must be set
    // before any query module initializes.
    Land.root = s"${new java.io.File(outDir).getAbsolutePath}_land"
    val spark = Session(Session.cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.select(filters)
    // A failing query must never VANISH from the correctness gate (round-3
    // postmortem: c01 threw, nothing was written, and the driver's JSON
    // simply omitted the row — 59 entries for 60 queries, nobody noticed).
    // On failure: write an _ERROR marker dir the driver's parquet read
    // will loudly reject, plus an aggregate errors.json, plus a final
    // ran≠ok count line on stderr.
    var failed = Map.empty[String, String]
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // evict the library's per-query persists (sizeGated measures,
        // fan-out caches) — 225 queries in one session would otherwise
        // accumulate MEMORY_AND_DISK entries unboundedly
        graft.operators.Broadcasts.release(spark)
      } catch { case e: Throwable =>
        graft.operators.Broadcasts.release(spark)
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        failed += (name -> msg)
        // Clear any partial write first — a half-written parquet dir could
        // otherwise read back as a small (wrong) result.
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
        }
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"), msg)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      OracleJson(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      OracleJson(failed.toSeq.sortBy(_._1).toMap))
    // Which build produced this run (sha must NOT live inside
    // oracle_sql.json: the driver iterates its keys as query names).
    Files.writeString(Paths.get(s"$outDir/provenance.json"), Provenance.json)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
          failed.keys.toSeq.sorted.mkString(", "))
      System.err.println(
        s"[verify] COUNT MISMATCH WARNING: only ${selected.size - failed.size} " +
          s"result dirs are valid parquet; ${failed.size} hold _ERROR markers")
    }
    // Exit 0 even with failures: the driver should still oracle-compare
    // the healthy queries; the _ERROR markers carry the failure signal.
    spark.stop()
  }
}
