package graft.tools

/** Write SparkEntry.oracleSql as oracle_sql.json (Verify's escaping),
  * optionally filtered — lets a resumed multi-run Verify campaign
  * assemble ONE full-surface json for tools/check_oracle.py without
  * re-dumping any query. Usage: runMain graft.tools.OracleJsonDump <outDir> [keys] */
object OracleJsonDump {
  def main(args: Array[String]): Unit =
    graft.Verify.writeOracleSql(args(0),
      if (args.length > 1) Some(args(1).split(",").toSet) else None)
}
