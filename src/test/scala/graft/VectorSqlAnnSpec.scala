package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.sql.VectorSql

/** Index-backed NEAREST TO through the SQL dialect — the reference
  * planner's VECTOR_SEARCH seam (planner.go:14-22: a collection with
  * an index routes the search through it; none -> exact scan):
  * registering an at-rest IVF index must (a) keep the SAME SQL text
  * valid, (b) route the scan to the probed clusters only — shown as
  * a dynamic partition-pruned parquet scan, not a corpus read — and
  * (c) fall back to the exact TakeOrdered plan when no index exists.
  */
class VectorSqlAnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def collection() =
    Tables.load(spark, sf, "embeddings").select(
      col("vec_id").cast("string").as("id"),
      col("embedding").as("vector"),
      map(lit("label"), col("label").cast("string")).as("metadata"))

  private def freshCat(): VectorSql.Catalog = {
    val cat = new VectorSql.Catalog(spark)
    cat.put("vectors", collection())
    cat
  }

  // static first-8 centroids (the ann_ivf_static model), written at
  // rest partitionBy(cluster) and loaded back — the layout where a
  // probe is a pruned scan of nprobe directories
  private lazy val idxPath = {
    val p = java.nio.file.Files
      .createTempDirectory("graft_sqlann_spec").toString
    val cents = Tables.load(spark, sf, "embeddings")
      .where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    Ann.writeIndex(
      Ann.tagCorpus(collection(), "id", "vector", cents,
        metaCols = Seq("metadata")),
      cents, p)
    p
  }
  private def loadedIdx(nprobe: Int = 2): VectorSql.IvfIndex = {
    val (tagged, cents) = Ann.loadIndex(spark, idxPath)
    VectorSql.IvfIndex(tagged, cents, nprobe)
  }

  private val annSql = "SELECT id, distance FROM vectors NEAREST TO " +
    "(SELECT vector FROM vectors WHERE id = '0') USING cosine LIMIT 10"

  test("routed result == rank over exactly the probed clusters") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val got = VectorSql.execute(cat, annSql)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // independent expectation: route the query to its 2 nearest
    // centroids, rank the probed rows by full-precision (cosine, id)
    val (tagged, cents) = Ann.loadIndex(spark, idxPath)
    val q = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val qc = KnnReference.nearestClusters(cents, q, 2)
      .collect().map(_.getInt(0)).toSet
    val want = tagged
      .where(col("cluster").isin(qc.toSeq: _*))
      .crossJoin(broadcast(q))
      .select(col("id"),
        graft.functions.VectorFunctions
          .vec_cosine(col("vector"), col("qvec")).as("distance"))
      .orderBy(col("distance"), col("id")).limit(10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === want)
    // and it genuinely differs from the exact answer only by the
    // probe restriction: every routed id sits in a probed cluster
    val members = tagged.where(col("cluster").isin(qc.toSeq: _*))
      .select(col("id")).collect().map(_.getString(0)).toSet
    assert(got.forall(t => members(t._1)))
  }

  test("the routed plan is a partition-pruned scan, not a corpus read") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val plan = VectorSql.explain(cat, annSql)
    // plan-time routing: the at-rest index scan carries a STATIC
    // `cluster IN (...)` partition filter (nprobe directories of the
    // partitionBy(cluster) layout — pruned before any row is read)
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no static cluster partition filter in:\n$plan")
    assert(plan.contains(" IN ("), plan)
    // and the probe really prunes: the scan's file index selects
    // nprobe of the 8 cluster directories
    val scanned = plan.linesIterator
      .filter(_.contains("PartitionFilters: [cluster")).mkString
    assert(scanned.nonEmpty, plan)
  }

  test("no index -> the exact TakeOrdered fallback, identical SQL text") {
    val cat = freshCat() // no putIndex
    val plan = VectorSql.explain(cat, annSql)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.toLowerCase.contains("dynamicpruning"), plan)
    // exact result = flat full-precision (cosine, id) top-10
    val got = VectorSql.execute(cat, annSql)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val q = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val want = collection().crossJoin(broadcast(q))
      .select(col("id"),
        graft.functions.VectorFunctions
          .vec_cosine(col("vector"), col("qvec")).as("distance"))
      .orderBy(col("distance"), col("id")).limit(10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === want)
  }

  test("graph index routes through the beam traversal, exact rank on candidates") {
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val cat = freshCat()
    cat.putIndex("vectors", VectorSql.GraphIndex(build))
    val got = VectorSql.execute(cat, annSql)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got.size === 10)
    // include-self semantics: qid = -1 keeps the query's own corpus
    // row eligible, and its distance 0 ranks it first
    assert(got.head._1 === "0", got.toString)
    // independent expectation: the same count-derived traversal's
    // top-16 candidates, exact full-precision cosine rank
    val q0 = build.vecs.where(col("id") === 0)
      .select(lit(-1L).as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val cand = KnnGraph.beamSearchRounds(build.rounds.last, build.vecs,
        q0, build.n)
      .last.where(col("rank") <= 16)
      .select(col("node").cast("string").as("id"))
    val qv = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val want = collection().join(cand, Seq("id"), "left_semi")
      .crossJoin(broadcast(qv))
      .select(col("id"),
        graft.functions.VectorFunctions
          .vec_cosine(col("vector"), col("qvec")).as("distance"))
      .orderBy(col("distance"), col("id")).limit(10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === want)
  }

  test("graph index + WHERE: predicate rides inside the traversal, no starvation") {
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val cat = freshCat()
    cat.putIndex("vectors", VectorSql.GraphIndex(build))
    val got = VectorSql.execute(cat,
        "SELECT id, metadata.label AS label FROM vectors " +
          "NEAREST TO (SELECT vector FROM vectors WHERE id = '0') " +
          "USING cosine WHERE metadata.label = '3' LIMIT 5")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // a ~10% selective predicate must not starve the LIMIT: the
    // admitted candidates come from the whole visited set
    // (filteredBeamSearch), not from post-filtering a 16-row cut
    assert(got.size === 5, got.toString)
    assert(got.forall(_._2 == "3"), got.toString)
    // independent expectation: filtered traversal candidates, then
    // the exact full-precision (cosine, string-id) rank
    val q0 = build.vecs.where(col("id") === 0)
      .select(lit(-1L).as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val allowed = emb.where(col("label") === 3)
      .select(col("vec_id").as("id"))
    val cand = KnnGraph.filteredBeamSearch(build.rounds.last,
        build.vecs, q0, build.n, allowed, k = 16)
      .select(col("node").cast("string").as("id"))
    val qv = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val want = collection().join(cand, Seq("id"), "left_semi")
      .crossJoin(broadcast(qv))
      .select(col("id"),
        graft.functions.VectorFunctions
          .vec_cosine(col("vector"), col("qvec")).as("distance"))
      .orderBy(col("distance"), col("id")).limit(5)
      .collect().map(_.getString(0)).toSeq
    assert(got.map(_._1) === want)
  }

  test("WHERE rides INSIDE the probed clusters (filter-then-rank)") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx(nprobe = 4))
    val got = VectorSql.execute(cat,
        "SELECT id, metadata.label AS label, distance FROM vectors " +
          "NEAREST TO (SELECT vector FROM vectors WHERE id = '0') " +
          "USING cosine WHERE metadata.label = '3' LIMIT 10")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._2 == "3"), got.toString)
    // equal to filter-then-rank over the probed set
    val (tagged, cents) = Ann.loadIndex(spark, idxPath)
    val q = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val qc = KnnReference.nearestClusters(cents, q, 4)
      .collect().map(_.getInt(0)).toSet
    val want = tagged
      .where(col("cluster").isin(qc.toSeq: _*))
      .where(col("metadata")("label") === "3")
      .crossJoin(broadcast(q))
      .select(col("id"), col("metadata")("label").as("label"),
        graft.functions.VectorFunctions
          .vec_cosine(col("vector"), col("qvec")).as("distance"))
      .orderBy(col("distance"), col("id")).limit(10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === want)
  }

  test("USING metric the index can't honor -> exact fallback, same text") {
    // dot/manhattan candidates from L2 routing can exclude true
    // neighbors far beyond normal ANN error (AnnIndex.honors), so an
    // indexed collection must fall through to the exact scan for them
    for (m <- Seq("dotproduct", "manhattan")) {
      val sql = "SELECT id, distance FROM vectors NEAREST TO " +
        s"(SELECT vector FROM vectors WHERE id = '0') USING $m LIMIT 10"
      val cat = freshCat()
      cat.putIndex("vectors", loadedIdx())
      val plan = VectorSql.explain(cat, sql)
      assert(!plan.contains("PartitionFilters: [cluster"),
        s"$m routed through the index:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"), plan)
      val got = VectorSql.execute(cat, sql)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val noIdx = freshCat()
      val want = VectorSql.execute(noIdx, sql)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got === want, m)
    }
    // while euclidean (the native geometry) still routes
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val plan = VectorSql.explain(cat,
      "SELECT id, distance FROM vectors NEAREST TO " +
        "(SELECT vector FROM vectors WHERE id = '0') USING euclidean " +
        "LIMIT 10")
    assert(plan.contains("PartitionFilters: [cluster"), plan)
  }

  test("put() of a replacement collection drops the registered index") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    assert(cat.indexOf("vectors").isDefined)
    // replace the collection: the index was built against the old
    // rows — serving candidates from the stale frame is the silent
    // wrong-results mode put() must rule out
    cat.put("vectors", collection().where(col("id") =!= "1"))
    assert(cat.indexOf("vectors").isEmpty)
    // and the same SQL text now plans the exact fallback
    val plan = VectorSql.explain(cat, annSql)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("DML keeps the registered index; CREATE COLLECTION drops it") {
    // incremental DML rides the rebuild-on-ingest contract (the
    // index serves the pre-DML generation until re-registered);
    // wholesale replacement (put / CREATE COLLECTION) drops
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val vlit = Seq.fill(64)("0.0").mkString("[", ", ", "]")
    VectorSql.execute(cat,
      s"INSERT INTO vectors (id, vector) VALUES ('99999', $vlit)")
    assert(cat.indexOf("vectors").isDefined, "INSERT dropped the index")
    VectorSql.execute(cat, "DELETE FROM vectors WHERE id = '99999'")
    assert(cat.indexOf("vectors").isDefined, "DELETE dropped the index")
    VectorSql.execute(cat,
      "UPDATE vectors SET metadata.label = '9' WHERE id = '3'")
    assert(cat.indexOf("vectors").isDefined, "UPDATE dropped the index")
    VectorSql.execute(cat, "CREATE COLLECTION vectors")
    assert(cat.indexOf("vectors").isEmpty,
      "CREATE COLLECTION kept a stale index over the emptied rows")
  }

  test("GraphIndex registration validates the dense-long-id contract") {
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    // non-numeric collection ids: the cast would silently NULL the
    // route's candidate/allowed sets empty — putIndex must throw
    val bad = new VectorSql.Catalog(spark)
    bad.put("vectors", collection()
      .withColumn("id", concat(lit("doc_"), col("id"))))
    val e1 = intercept[IllegalArgumentException] {
      bad.putIndex("vectors", VectorSql.GraphIndex(build))
    }
    assert(e1.getMessage.contains("not numeric"), e1.getMessage)
    // ids outside the graph's [0, n) id space: mismatched registration
    val shifted = new VectorSql.Catalog(spark)
    shifted.put("vectors", collection()
      .withColumn("id", (col("id").cast("long") + build.n).cast("string")))
    val e2 = intercept[IllegalArgumentException] {
      shifted.putIndex("vectors", VectorSql.GraphIndex(build))
    }
    assert(e2.getMessage.contains("mismatched"), e2.getMessage)
    // NON-CANONICAL numeric ids ('007' casts to a valid 7 but the
    // route's string result-join would match nothing): rejected too
    val padded = new VectorSql.Catalog(spark)
    padded.put("vectors", collection()
      .withColumn("id", lpad(col("id"), 3, "0")))
    val e3 = intercept[IllegalArgumentException] {
      padded.putIndex("vectors", VectorSql.GraphIndex(build))
    }
    assert(e3.getMessage.contains("canonical form"), e3.getMessage)
    // a degree basis the graph can't sustain (thin graph, claimed 8):
    // the floor would overestimate the evaluated set — rejected
    val thin = KnnGraph.Build(
      Seq(build.rounds.last.where(col("rank") <= 4)),
      build.vecs, build.n)
    val e4 = intercept[IllegalArgumentException] {
      freshCat().putIndex("vectors", VectorSql.GraphIndex(thin))
    }
    assert(e4.getMessage.contains("degree basis"), e4.getMessage)
    // the same thin graph registers fine at its true degree
    val okThin = freshCat()
    okThin.putIndex("vectors", VectorSql.GraphIndex(thin, degree = 4))
    assert(okThin.indexOf("vectors").isDefined)
    // the conforming collection registers fine
    val ok = freshCat()
    ok.putIndex("vectors", VectorSql.GraphIndex(build))
    assert(ok.indexOf("vectors").isDefined)
  }

  test("IVF route is DML-coherent: DELETE excludes, UPDATE fresh, INSERT waits") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val before = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    assert(before.size === 10)
    // the query row ranks first (distance 0) — delete the SECOND hit
    // so the NEAREST TO subquery still resolves
    val victim = before(1)
    VectorSql.execute(cat, s"DELETE FROM vectors WHERE id = '$victim'")
    assert(cat.indexOf("vectors").isDefined) // DML keeps the index
    // still ROUTED (not a silent exact fallback) ...
    val plan = VectorSql.explain(cat, annSql)
    assert(plan.startsWith("plan: VECTOR_SEARCH(route=ivf-probe"),
      plan.linesIterator.next())
    // ... and the reference contract holds (storage.go:96: DELETE
    // removes the row from store AND index — no later SELECT can see
    // it): candidates rank against the LIVE collection
    val after = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    assert(!after.contains(victim), after.toString)
    assert(after.size === 10,
      "the candidate cut (16) absorbs one deletion above LIMIT 10")
    // UPDATE serves FRESH metadata through the routed path
    val mark = after(1)
    VectorSql.execute(cat,
      s"UPDATE vectors SET metadata.label = 'zz' WHERE id = '$mark'")
    val labels = VectorSql.execute(cat,
        "SELECT id, metadata.label AS label FROM vectors NEAREST TO " +
          "(SELECT vector FROM vectors WHERE id = '0') USING cosine " +
          "LIMIT 10")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(labels(mark) === "zz", labels.toString)
    // INSERT: a new row — even one near-identical to the query
    // vector — stays invisible to the ROUTED path until
    // re-registration (it is in no cluster: rebuild-on-ingest)
    val qlit = collection().where(col("id") === "0").head()
      .getSeq[Float](1).map(v => f"$v%.6f").mkString("[", ", ", "]")
    VectorSql.execute(cat,
      s"INSERT INTO vectors (id, vector) VALUES ('99999', $qlit)")
    val withIns = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    assert(!withIns.contains("99999"), withIns.toString)
  }

  test("graph route is DML-coherent: DELETE excludes the row from service") {
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val cat = freshCat()
    cat.putIndex("vectors", VectorSql.GraphIndex(build))
    val before = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    val victim = before(1)
    VectorSql.execute(cat, s"DELETE FROM vectors WHERE id = '$victim'")
    val after = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    assert(!after.contains(victim), after.toString)
    assert(after.size === 10)
    val plan = VectorSql.explain(cat, annSql)
    assert(plan.startsWith("plan: VECTOR_SEARCH(route=graph-beam"),
      plan.linesIterator.next())
  }

  test("routed serve stage: zero corpus-side shuffle; native ids push In(id)") {
    // cast-derived id collection (the default vectors frame): the
    // serve stage is Filter-over-scan + TakeOrdered — ZERO Exchange.
    // r14's plan gap was the semi-join here: Exchange
    // hashpartitioning(id) over the collection side that AQE only
    // demoted to broadcast after the map stage ran.
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    val plan = VectorSql.explain(cat, annSql)
    val serve = plan.substring(plan.lastIndexOf("-- serve stage --"))
    assert(!serve.contains("Exchange"), serve)
    // graph route: same zero-shuffle serve shape
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val gcat = freshCat()
    gcat.putIndex("vectors", VectorSql.GraphIndex(build))
    val gplan = VectorSql.explain(gcat, annSql)
    val gbody = gplan.linesIterator.drop(1).mkString("\n")
    assert(!gbody.contains("Exchange hashpartitioning"), gbody)
    // NATIVE string-id collection: the same candidate ids reach the
    // parquet scan as PushedFilters: [In(id, ...)] — row-group
    // pruning off id min-max stats (the IdLookupProbeSpec pushdown,
    // now on the routed ANN serve path)
    val ndir = java.nio.file.Files
      .createTempDirectory("graft_sqlann_native").toString
    collection()
      .withColumn("id", concat(lit("d"), lpad(col("id"), 3, "0")))
      .write.mode("overwrite").parquet(ndir)
    val native = spark.read.parquet(ndir)
    val cents = Tables.load(spark, sf, "embeddings")
      .where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val nidx = java.nio.file.Files
      .createTempDirectory("graft_sqlann_nidx").toString
    Ann.writeIndex(
      Ann.tagCorpus(native, "id", "vector", cents,
        metaCols = Seq("metadata")),
      cents, nidx)
    val (ntagged, ncents) = Ann.loadIndex(spark, nidx)
    val nc = new VectorSql.Catalog(spark)
    nc.put("vectors", native)
    nc.putIndex("vectors", VectorSql.IvfIndex(ntagged, ncents, 2))
    val nsql = "SELECT id, distance FROM vectors NEAREST TO " +
      "(SELECT vector FROM vectors WHERE id = 'd000') USING cosine " +
      "LIMIT 10"
    val nplan = VectorSql.explain(nc, nsql)
    val nserve = nplan.substring(nplan.lastIndexOf("-- serve stage --"))
    assert(nserve.contains("PushedFilters: [In(id"), nserve)
    assert(!nserve.contains("Exchange"), nserve)
    assert(VectorSql.execute(nc, nsql).count() === 10)
  }

  test("EXPLAIN names the chosen route for every plan type") {
    import graft.operators.KnnGraph
    val cat = freshCat()
    assert(VectorSql.explain(cat, "SELECT id FROM vectors LIMIT 5")
      .startsWith("plan: FULL_SCAN"))
    assert(VectorSql.explain(cat, "SELECT id FROM vectors WHERE id = '7'")
      .startsWith("plan: ID_LOOKUP"))
    // the reference's rule is a TOP-LEVEL id equality
    // (planner.go:147-155): a conjunction is a full scan
    assert(VectorSql.explain(cat,
        "SELECT id FROM vectors WHERE id = '7' AND metadata.label = '3'")
      .startsWith("plan: FULL_SCAN"))
    assert(VectorSql.explain(cat, annSql).startsWith(
      "plan: VECTOR_SEARCH(route=exact-scan, reason=no-index)"))
    cat.putIndex("vectors", loadedIdx())
    assert(VectorSql.explain(cat, annSql).startsWith(
      "plan: VECTOR_SEARCH(route=ivf-probe, clusters=["))
    assert(VectorSql.explain(cat,
        annSql.replace("USING cosine", "USING dotproduct")).startsWith(
      "plan: VECTOR_SEARCH(route=exact-scan, reason=metric-fallback)"))
    assert(VectorSql.explain(cat,
        "SELECT id, distance FROM vectors NEAREST TO (SELECT vector " +
          "FROM vectors WHERE id = '0') USING cosine " +
          "WHERE distance <= 0.5 LIMIT 10").startsWith(
      "plan: VECTOR_SEARCH(route=exact-scan, reason=distance-where)"))
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val gcat = freshCat()
    gcat.putIndex("vectors", VectorSql.GraphIndex(build))
    assert(VectorSql.explain(gcat, annSql)
      .startsWith("plan: VECTOR_SEARCH(route=graph-beam"))
    assert(VectorSql.explain(gcat,
        "SELECT id FROM vectors NEAREST TO (SELECT vector FROM vectors " +
          "WHERE id = '0') USING cosine WHERE metadata.label = '3' " +
          "LIMIT 5")
      .startsWith("plan: VECTOR_SEARCH(route=graph-filtered-beam"))
    assert(VectorSql.explain(gcat,
        "SELECT id FROM vectors NEAREST TO (SELECT vector FROM vectors " +
          "WHERE id = '0') USING cosine WHERE id = '5' LIMIT 5")
      .startsWith("plan: VECTOR_SEARCH(route=filtered-floor-fallback"))
  }

  test("USING is case-insensitive and validated at parse time") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    // 'USING Cosine' must neither skip the index route (honors()
    // compares lowercase names) nor change the result
    val plan = VectorSql.explain(cat,
      annSql.replace("USING cosine", "USING Cosine"))
    assert(plan.startsWith("plan: VECTOR_SEARCH(route=ivf-probe"),
      plan.linesIterator.next())
    val got = VectorSql.execute(cat,
        annSql.replace("USING cosine", "USING COSINE"))
      .collect().map(_.getString(0)).toSeq
    val want = VectorSql.execute(cat, annSql)
      .collect().map(_.getString(0)).toSeq
    assert(got === want)
    // an unsupported metric fails at PARSE time, not mid-execution
    val e = intercept[IllegalArgumentException] {
      VectorSql.execute(cat,
        annSql.replace("USING cosine", "USING chebyshev"))
    }
    assert(e.getMessage.contains("unknown metric"), e.getMessage)
    // kernel short forms canonicalize to the reference names:
    // 'USING l2' routes and gates exactly like 'USING euclidean'
    assert(VectorSql.explain(cat,
        annSql.replace("USING cosine", "USING l2"))
      .startsWith("plan: VECTOR_SEARCH(route=ivf-probe"))
    assert(VectorSql.explain(cat,
        annSql.replace("USING cosine", "USING dot")).startsWith(
      "plan: VECTOR_SEARCH(route=exact-scan, reason=metric-fallback)"))
  }

  test("routed LIMIT extends the candidate cut; rank-agnostic shapes see all probed rows") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx())
    // LIMIT above the registered candidate floor (16): the cut
    // extends to LIMIT+OFFSET — a LIMIT can never starve
    val sql20 = "SELECT id, distance FROM vectors NEAREST TO " +
      "(SELECT vector FROM vectors WHERE id = '0') USING cosine LIMIT 20"
    assert(VectorSql.execute(cat, sql20).count() === 20)
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val gcat = freshCat()
    gcat.putIndex("vectors", VectorSql.GraphIndex(build))
    // graph route: cut extends AND the beam widens to cover it
    assert(VectorSql.execute(gcat, sql20).count() === 20)
    assert(VectorSql.execute(gcat,
        "SELECT id, distance FROM vectors NEAREST TO (SELECT vector " +
          "FROM vectors WHERE id = '0') USING cosine LIMIT 10 OFFSET 10")
      .count() === 10)
    // COUNT(*) does not cut the (distance, id) order, so it must see
    // EVERY probed row (not a 16-candidate slice) — and coherently:
    // deleting a probed row drops the count by one
    val countSql = "SELECT COUNT(*) FROM vectors NEAREST TO " +
      "(SELECT vector FROM vectors WHERE id = '0') USING cosine LIMIT 10"
    val pre = VectorSql.execute(cat, countSql).head().getLong(0)
    assert(pre > 16, s"count=$pre must be the probed-cluster total")
    val victim = VectorSql.execute(cat, annSql).collect()(1).getString(0)
    VectorSql.execute(cat, s"DELETE FROM vectors WHERE id = '$victim'")
    assert(VectorSql.execute(cat, countSql).head().getLong(0) === pre - 1)
    // explicit ORDER BY re-orders the FULL (live) probed set
    val (tagged, cents) = Ann.loadIndex(spark, idxPath)
    val q = collection().where(col("id") === "0")
      .select(col("vector").as("qvec"))
    val qc = KnnReference.nearestClusters(cents, q, 2)
      .collect().map(_.getInt(0)).toSet
    val want = tagged.where(col("cluster").isin(qc.toSeq: _*))
      .where(col("id") =!= victim)
      .select(col("id")).orderBy(col("id").desc).limit(5)
      .collect().map(_.getString(0)).toSeq
    val got = VectorSql.execute(cat,
        "SELECT id FROM vectors NEAREST TO (SELECT vector FROM vectors " +
          "WHERE id = '0') USING cosine ORDER BY id DESC LIMIT 5")
      .collect().map(_.getString(0)).toSeq
    assert(got === want)
  }

  test("IVF route: WHERE admits candidates by LIVE values after UPDATE") {
    val cat = freshCat()
    cat.putIndex("vectors", loadedIdx(nprobe = 4))
    // give one near (probed) row a label NO row had at index time —
    // a stale-metadata candidate filter would return nothing
    val near = VectorSql.execute(cat, annSql).collect()(1).getString(0)
    VectorSql.execute(cat,
      s"UPDATE vectors SET metadata.label = 'zz' WHERE id = '$near'")
    val got = VectorSql.execute(cat,
        "SELECT id FROM vectors NEAREST TO (SELECT vector FROM vectors " +
          "WHERE id = '0') USING cosine WHERE metadata.label = 'zz' " +
          "LIMIT 5")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(near),
      "a row whose UPDATEd metadata newly matches must be a candidate")
  }

  test("GraphIndex re-registration skips validation per (generation, build)") {
    import graft.operators.KnnGraph
    val emb = Tables.load(spark, sf, "embeddings")
    val build = KnnGraph.nnDescentBuild(emb, "vec_id", "embedding", 16)
    val n0 = VectorSql.graphRegCacheSize
    val c1 = freshCat()
    c1.putIndex("vectors", VectorSql.GraphIndex(build))
    val n1 = VectorSql.graphRegCacheSize
    assert(n1 === n0 + 1)
    // same collection plan + same build instance — the shipped
    // per-query re-registration path (vector_sql_ann_graph* build a
    // fresh Catalog per execution): validation is cached, so the two
    // registration-time aggregate jobs don't re-run per query
    val c2 = freshCat()
    c2.putIndex("vectors", VectorSql.GraphIndex(build))
    assert(VectorSql.graphRegCacheSize === n1)
    // a DML write is a NEW collection generation: re-validated
    VectorSql.execute(c2,
      "UPDATE vectors SET metadata.label = '9' WHERE id = '3'")
    c2.putIndex("vectors", VectorSql.GraphIndex(build))
    assert(VectorSql.graphRegCacheSize === n1 + 1)
  }
}
