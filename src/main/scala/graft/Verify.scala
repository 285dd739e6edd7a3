package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. An optional
  * `name[,name…]` limits both to the named queries (tools/gate.py's
  * `QUERIES=` path).
  * Usage: runMain graft.Verify <sfDir> <outDir> [name[,name…]]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // free caches/checkpoint blocks a query may have pinned
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      DumpOracles.render(SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    spark.stop()
  }
}
