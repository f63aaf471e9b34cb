package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the graph queries the benchmark runs,
  * one `<op>.sql` file per operator, into the directory given as the only
  * argument. */
object OracleSql {
  val Queries: Map[String, String] = Map("pagerank" -> "g_pagerank",
    "lpa" -> "g_label_propagation", "sssp" -> "g_sssp", "mis" -> "g_mis",
    "betweenness" -> "g_betweenness")

  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(args(0)))
    val sql = graft.SparkEntry.oracleSql
    Queries.foreach { case (op, q) => Files.writeString(dir.resolve(s"$op.sql"), sql(q)) }
  }
}
