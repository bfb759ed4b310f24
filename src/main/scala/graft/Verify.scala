package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the shipped session; its µs parquet timestamps matter here: the
    // oracle compare (tools/check.py) checks output TYPES against
    // DuckDB's µs-unit arrow schema — INT96/ns output reads back as
    // timestamp[ns] and trips the type-drift guard
    val spark = GraftSession.getOrCreate("graft-verify")
    // same shared fixtures as Bench: frame CONTENT is identical to the
    // per-gate builds (localCheckpoint of the same plan), so the
    // correctness surface is unchanged — only rebuild count drops
    SweepCache.enable()
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (Bench's rule): SPARK_GRAFT_ONLY=f06,f07
    // runs and records only matching gates; unset = full contract
    val selected = SparkEntry.selected()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SweepCache.releaseGateStorage(spark)
    }
    // aux fixtures for two-stage oracles (hash-seeded intermediates the
    // oracle SQL reads back via read_parquet on the expanded {OUT} path).
    // Written to a SIBLING of outDir: the correctness driver enumerates
    // outDir subdirectories as query outputs, and an aux/ subdir inside it
    // shows up as a permanently-red pseudo-query (r2 judge item #2).
    val auxDir = s"${outDir.stripSuffix("/")}.aux"
    SparkEntry.auxOutputs.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$auxDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
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
    // expand {OUT}/aux to the sibling aux dir so two-stage oracle SQL
    // can read_parquet the fixtures written above ({OUT} alone stays the
    // main outDir for any oracle that reads a query's own output)
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val auxAbs = Paths.get(auxDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .filter(kv => selected.contains(kv._1))
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("{OUT}/aux", auxAbs).replace("{OUT}", outAbs))}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
