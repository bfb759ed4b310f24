package graftbench

/** Prints the DuckDB oracle SQL of the gate_mix gates, one JSON object
  * per line, for oracle.py to turn into gate_expect.tsv. */
object OracleSql {
  def main(args: Array[String]): Unit =
    GateMix.gates.foreach { g =>
      val sql = graft.SparkEntry.oracleSql.getOrElse(g,
        sys.error(s"$g has no oracle SQL"))
      require(!sql.contains("{OUT}"), s"$g needs an aux fixture; pick another gate")
      println(Json.render(Map("gate" -> g, "sql" -> sql)))
    }
}
