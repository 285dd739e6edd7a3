package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump the ASSEMBLED `SparkEntry.oracleSql` map as JSON
  * without starting Spark or running any query. tools/survey_check.py
  * lints the dump (tools/oracles.json) for driver-unhashable output
  * shapes — array-typed final columns and signed-zero-exposed bare
  * round() — which a static scan of SparkEntry.scala cannot see
  * reliably (oracles are built from composed CTE fragments).
  * Usage: runMain graft.DumpOracles [outPath]
  */
object DumpOracles {
  /** A string map as a JSON object, one key per line, sorted. Escapes
    * backslash, quote and ALL control chars (< 0x20): a tab or CR in
    * oracle SQL would otherwise break the reader's `json.load`.
    */
  def render(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{\n", ",\n", "\n}")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("tools/oracles.json")
    Files.writeString(Paths.get(out), render(SparkEntry.oracleSql))
    println(s"[dump-oracles] ${SparkEntry.oracleSql.size} oracles -> $out")
  }
}
