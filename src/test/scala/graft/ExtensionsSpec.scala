package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VectorStore

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions-built session resolves every injected function") {
    // the shared test session is built withExtensions(new GraftExtensions)
    val s = SparkTestSession.spark
    val r = s.sql(
      """SELECT vec_l2(array(0.0F, 0.0F), array(3.0F, 4.0F)) AS d,
        |  char_fold('hello world') AS f,
        |  lsh_signature(array(1.0F, 0.0F)) AS b,
        |  size(text_embed('a b c')) AS n,
        |  size(minhash_sig('one two three four')) AS m,
        |  simhash32('x y z') AS sh,
        |  size(shingle_hashes('one two three four')) AS sg""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)
    assert(r.getLong(1) == 204910434L)
    assert(r.getInt(3) == 64)
    assert(r.getInt(4) == 8)
    assert(r.getInt(6) == 2) // 4 tokens -> two 3-shingles
  }

  test("heavy_hitters resolves in plain SQL as an aggregate") {
    val s = SparkTestSession.spark
    val rows = s.sql(
      """SELECT heavy_hitters(t, 4) AS hh FROM
        |  (SELECT explode(array('a','a','b','a','c')) AS t)""".stripMargin)
      .selectExpr("inline(hh)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", 3L, 0L), ("b", 1L, 0L), ("c", 1L, 0L)))
  }

  test("Session: extensions on, shuffle partitions = cpus, UTC") {
    val s = Session(cpus = 4)
    assert(s.sql("SELECT vec_l2(array(0.0F), array(2.0F))").head().getDouble(0) == 2.0)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("DumpOracles.render round-trips control chars, quotes and backslashes") {
    val m = Map("k\t1" -> "a\tb\rc\nd\"e\\f\u0001g", "plain" -> "SELECT 1")
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(DumpOracles.render(m), classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(back.asScala.toMap == m)
  }

  test("src/main: one session factory, no swallowed Throwable") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val catchAll = """case\s+\w+\s*:\s*Throwable\b""".r
    val bad = files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.toSeq.flatMap { case (line, i) =>
        val code = line.trim
        val doc = code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")
        val session = !doc && code.contains("SparkSession.builder()") &&
          f.getName != "Session.scala"
        // one recursive delete: AtRest.deleteTree, which logs failures
        val localRm = !doc && code.contains("def rm(") &&
          f.getName != "AtRest.scala"
        if (session || localRm || catchAll.findFirstIn(code).nonEmpty)
          Some(s"${f.getPath}:${i + 1}: $code")
        else None
      } finally src.close()
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}

class AtRestSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}
  import graft.operators.AtRest

  test("AtRest.dir: a write that throws leaves no marker; the next call rebuilds") {
    val key = s"atrest-spec-${System.nanoTime()}"
    var builds = 0
    intercept[IllegalStateException] {
      AtRest.dir(key) { p =>
        builds += 1
        Files.createDirectories(Paths.get(p))
        Files.writeString(Paths.get(p, "partial"), "x")
        throw new IllegalStateException("write failed")
      }
    }
    def ok(p: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "part-0"), "ok")
    }
    val dir = AtRest.dir(key)(ok)
    assert(Files.exists(Paths.get(dir, "_COMPLETE")))
    assert(Files.exists(Paths.get(dir, "part-0")))
    assert(!Files.exists(Paths.get(dir, "partial")))
    assert(AtRest.dir(key)(ok) == dir)
    assert(builds == 2)
    assert(AtRest.buildTimes.contains(key))
  }
}

class ImportExportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("csv and json export/import round-trip (reference import/export)") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toString
    VectorStore.exportCsv(df, s"$dir/csv")
    VectorStore.exportJson(df, s"$dir/json")
    val csv = VectorStore.importCsv(spark, s"$dir/csv").orderBy("id")
    val json = VectorStore.importJson(spark, s"$dir/json").orderBy("id")
      .select("id", "name", "score")
    assert(csv.collect().map(_.toSeq).toSeq == df.orderBy("id").collect().map(_.toSeq).toSeq)
    assert(json.collect().map(_.toSeq).toSeq == df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("orc export/import round-trip preserves schema, values and pushdown") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    VectorStore.exportOrc(df, s"$dir/orc")
    val orc = VectorStore.importOrc(spark, s"$dir/orc")
    // ORC keeps names/types exactly (csv infers); nullability widens
    // on read, as for any file source
    assert(orc.schema.map(f => (f.name, f.dataType))
      == df.schema.map(f => (f.name, f.dataType)))
    assert(orc.orderBy("id").collect().map(_.toSeq).toSeq
      == df.orderBy("id").collect().map(_.toSeq).toSeq)
    // the at-rest contract: a filtered projection reaches the ORC scan
    // as PushedFilters + a pruned ReadSchema, same as the parquet store
    val plan = orc.where(org.apache.spark.sql.functions.col("id") > 1L)
      .select("name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"), plan)
  }
}
