package perfbench

/** Prints `SparkEntry.oracleSql` as one JSON object, for
  * `oracle_counts.py`. */
object OracleDump {
  def main(args: Array[String]): Unit = println(Json.render(graft.SparkEntry.oracleSql))
}
