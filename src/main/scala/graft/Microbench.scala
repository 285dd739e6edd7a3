package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextEmbed, TextExprs, TextFuncs}
import graft.operators.{Ann, AsOf, AtRest, Dedup, Knn, Skew}

/** Head-to-head timings + recall for the engine's design choices,
  * written to docs/PERF.md. Usage: runMain graft.Microbench [sfDir].
  */
object Microbench {

  private def time[A](warm: Int = 1, reps: Int = 3)(f: => A): Double = {
    (0 until warm).foreach(_ => f)
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => f)
    (System.nanoTime() - t0) / 1e9 / reps
  }

  /** Batch kNN at the serving shape (64 queries, a cached 10k x 64
    * corpus, a single-partition query frame): `Knn.knnJoin` and
    * `Ann.searchIvfBatch` (16 static centroids, nprobe 4) — the
    * `knn_block` kernel — next to the LSH-bucketed `annJoinLsh`.
    */
  def batchKnn(spark: SparkSession): String = {
    val corpus = graft.sources.VectorStore.randomVectors(spark, 10000, 64, seed = 7L)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    corpus.count()
    val schema = corpus.select(col("vec_id").as("qid"), col("embedding").as("qvec")).schema
    val qs = spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.where(col("vec_id") < 64).select(col("vec_id"), col("embedding"))
        .collect().toSeq, 1), schema)
    val cents = corpus.where(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val tagged = Ann.tagCorpus(corpus, "vec_id", "embedding", cents).cache()
    tagged.count()
    val calls = Seq[(String, () => DataFrame)](
      "knnJoin (exact, euclidean, k=10)" -> (() => Knn.knnJoin(corpus, qs,
        "vec_id", "embedding", "qid", "qvec", "euclidean", 10)),
      "searchIvfBatch (16 clusters, nprobe=4, k=10)" -> (() => Ann.searchIvfBatch(
        tagged, cents, qs, "vec_id", "embedding", "euclidean", 10, nprobe = 4)),
      "annJoinLsh (approx, 4x4 planes, k=10)" -> (() => Ann.annJoinLsh(corpus, qs,
        "vec_id", "embedding", "qid", "qvec", "euclidean", 10)))
    val sb = new StringBuilder
    sb ++= "## Kernel layer: batch kNN (64 queries x 10k x 64 dims)\n\n"
    sb ++= "| call | sec/call | jobs/call |\n|---|---|---|\n"
    calls.foreach { case (name, call) =>
      val secs = time(warm = 2, reps = 5)(call().collect())
      val (_, jobs) = JobCount.during(spark)(call().collect())
      sb ++= f"| $name | $secs%.3f | $jobs |\n"
    }
    tagged.unpersist(); corpus.unpersist()
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session(cpus)

    val e = Tables.load(spark, sfDir, "embeddings")
    val docs = Tables.load(spark, sfDir, "documents")
    val sb = new StringBuilder
    sb ++= s"# Microbenchmarks ($sfDir, local[$cpus], median-ish of 3 after warmup)\n\n"

    // 1. kernel layer: batch kNN through the knn_block aggregate
    sb ++= batchKnn(spark)

    // 2. native kernels vs HOF compositions (same values, spec-tested)
    sb ++= "\n## Native kernels vs interpreted HOF compositions\n\n"
    sb ++= "| op | native (s) | HOF (s) |\n|---|---|---|\n"
    val tEmbedN = time() {
      docs.select(TextExprs.text_embed(col("text")).as("v"))
        .agg(sum(element_at(col("v"), 1))).collect()
    }
    val tEmbedH = time(warm = 0, reps = 1) {
      docs.limit(200).select(TextEmbed.embed(col("text")).as("v"))
        .agg(sum(element_at(col("v"), 1))).collect()
    }
    sb ++= f"| text_embed (all docs) vs HOF (200 docs only!) | $tEmbedN%.2f | $tEmbedH%.2f |\n"
    val tLshN = time() {
      e.select(Ann.lshSignature(col("embedding")).as("b")).agg(sum("b")).collect()
    }
    val tLshH = time() {
      e.select(Ann.lshSignatureHof(col("embedding")).as("b")).agg(sum("b")).collect()
    }
    sb ++= f"| lsh_signature (corpus) | $tLshN%.2f | $tLshH%.2f |\n"
    val tSimN = time() {
      docs.select(TextExprs.simhash32(col("text")).as("s")).agg(sum("s")).collect()
    }
    val tSimH = time() {
      docs.select(TextFuncs.simhash32(
        transform(TextFuncs.tokens(col("text")), t => TextFuncs.charFold(t))).as("s"))
        .agg(sum("s")).collect()
    }
    sb ++= f"| simhash32 (all docs) | $tSimN%.2f | $tSimH%.2f |\n"

    // 2b. PII scrub: the same three patterns + fixed replace order as
    //     Redact.scrub, re-implemented as an honest Scala UDF (patterns
    //     compiled once outside the closure, single pass) — measures
    //     what the UDF boundary itself costs on a regex-heavy op
    sb ++= "\n## PII scrub: codegen'd regex exprs vs equivalent Scala UDF\n\n"
    sb ++= "| variant | all documents (s) |\n|---|---|\n"
    val tRedN = time() {
      graft.operators.Redact.scrub(docs, "text")
        .agg(sum(length(col("clean_text"))), sum(col("n_email")),
          sum(col("n_phone")), sum(col("n_ipv4"))).collect()
    }
    sb ++= f"| Redact.scrub (codegen'd exprs) | $tRedN%.2f |\n"
    locally {
      import graft.operators.Redact
      val pats = Seq(Redact.EmailRe, Redact.PhoneRe, Redact.Ipv4Re)
        .map(java.util.regex.Pattern.compile)
      val reps = Seq("<EMAIL>", "<PHONE>", "<IP>")
      val scrubUdf = udf { (s: String) =>
        val counts = pats.map { p =>
          val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n.toLong
        }
        var c = s
        pats.zip(reps).foreach { case (p, r) =>
          c = p.matcher(c).replaceAll(r)
        }
        (counts(0), counts(1), counts(2), c)
      }
      val tRedU = time() {
        docs.select(scrubUdf(col("text")).as("r"))
          .agg(sum(length(col("r._4"))), sum(col("r._1")),
            sum(col("r._2")), sum(col("r._3"))).collect()
      }
      sb ++= f"| single Scala UDF (compiled patterns) | $tRedU%.2f |\n"
      sb ++= "\nHonest read: on a regex-DOMINATED op the UDF boundary is in the\n"
      sb ++= "noise (both paths run java.util.regex on materialized strings).\n"
      sb ++= "The expression form's win here is optimizer visibility, not raw\n"
      sb ++= "kernel speed: Catalyst sees through it (column pruning reaches\n"
      sb ++= "the scan, the whole scrub stays inside one codegen stage, no\n"
      sb ++= "opaque closure/encoder), which is what survives a 100x scale-up.\n"
      sb ++= "Contrast the kernels table above, where the native expressions\n"
      sb ++= "replace INTERPRETED per-element lambdas and win 5-600x.\n"
    }

    // 3. ANN recall@10 vs exact, 50 queries (header appended after
    // the PQ-serving section below so doc order matches compute order)
    def exactTop(qid: Long): Set[Long] = {
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      Knn.topK(e, q, "vec_id", "embedding", "cosine", 10)
        .collect().map(_.getLong(0)).toSet
    }
    val qids = (0L until 50L)
    val exact = qids.map(q => q -> exactTop(q)).toMap

    val lshAll = {
      val bucketed = e.withColumn("bucket", Ann.lshSignature(col("embedding"), 8))
      val qs = bucketed.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("bucket").as("qbucket"))
      import graft.functions.VectorFunctions
      val d = VectorFunctions.vec_cosine(col("embedding"), col("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      bucketed.join(broadcast(qs), col("bucket") === col("qbucket"))
        .select(col("qid"), col("vec_id"), round(d, 4).as("dist"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    }
    val lshRecall = qids.map(q =>
      (exact(q) intersect lshAll.getOrElse(q, Set.empty)).size).sum / (50.0 * 10)

    // multi-probe: per-query searchLsh with hamming-1 probes
    val lshMpRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = Ann.searchLsh(e, q, "vec_id", "embedding", "cosine", 10,
        probeHamming = 1).collect().map(_.getLong(0)).toSet
      (exact(qid) intersect got).size
    }.sum / (20.0 * 10)

    // OR-amplified multi-table LSH: 4 tables x 4 planes
    val lshTblRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = Ann.searchLshTables(e, q, "vec_id", "embedding", "cosine", 10,
        planesPerTable = 4, numTables = 4).collect().map(_.getLong(0)).toSet
      (exact(qid) intersect got).size
    }.sum / (20.0 * 10)

    val (tagged, cents) = Ann.buildIvf(e, "vec_id", "embedding", k = 16, iters = 5)
    val taggedC = tagged.cache(); taggedC.count()
    val ivfRecall = qids.map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = Ann.searchIvf(taggedC, cents, q, "vec_id", "embedding",
        "cosine", 10, nprobe = 4).collect().map(_.getLong(0)).toSet
      (exact(qid) intersect got).size
    }.sum / (50.0 * 10)

    val pqModel = graft.operators.Pq.train(e, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 3)
    val pqCodes = graft.operators.Pq.encode(pqModel, e, "vec_id", "embedding").cache()
    pqCodes.count()

    // composed IVF-PQ: nprobe routing over the same trained PQ model
    val ivfpq = graft.operators.IvfPq.Index(cents, pqModel,
      pqCodes.join(taggedC.select(col("vec_id"), col("cluster")), Seq("vec_id")))
    val ivfpqRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.IvfPq.search(ivfpq, q, "vec_id", 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)
    val pqRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.Pq.searchAdcJoin(pqModel, pqCodes, q, "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
      // exact-l2 baseline for PQ (it approximates l2, not cosine)
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)

    // 4. PQ serving at rest: the map-only pq_adc kernel scan
    val pqDir = Files.createTempDirectory("graft_pq_bench").toString
    graft.operators.Pq.writeIndex(pqModel, pqCodes, pqDir)
    val (restModel, restCodesRaw) = graft.operators.Pq.loadIndex(spark, pqDir)
    val restCodes = restCodesRaw.cache(); restCodes.count()
    val qdf0 = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val tPq = time() {
      graft.operators.Pq.searchAdcJoin(restModel, restCodes, qdf0, "vec_id", 10).collect()
    }
    // the IVF coarse assignment: the whole corpus through ivf_assign
    val tIvf = time() {
      Ann.tagCorpus(e, "vec_id", "embedding", cents).agg(sum(col("cluster"))).collect()
    }
    sb ++= "\n## Kernel layer: PQ serving and IVF assignment\n\n"
    sb ++= "| form | sec/call | shuffle |\n|---|---|---|\n"
    sb ++= f"| searchAdcJoin (pq_adc kernel per code row, map-only scan, one query) | $tPq%.3f | none |\n"
    sb ++= f"| tagCorpus (ivf_assign kernel per vector, k=16, whole corpus) | $tIvf%.3f | none |\n"
    sb ++= "\nThe codebooks (centroids) are collected once per model (call)\n"
    sb ++= "into the kernel's table; a query is one codes scan topped by\n"
    sb ++= "TakeOrdered and a tagging is one projection, with no explode, no\n"
    sb ++= "join and no shuffle (PqSpec and AnnScaleSpec assert the plans and\n"
    sb ++= "the equality with the join + min_by formulations).\n"

    // 5. SQ8: recall + serving cost of the deterministic index family
    val sqModel = graft.operators.Sq.train(e, "embedding", 64)
    val sqCodes = graft.operators.Sq.encode(sqModel, e, "vec_id", "embedding").cache()
    sqCodes.count()
    val sqRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.Sq.search(sqModel, sqCodes, q, "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)
    val tSq = time() {
      graft.operators.Sq.search(sqModel, sqCodes, qdf0, "vec_id", 10).collect()
    }
    val tFlat = time() {
      Knn.topK(e, qdf0, "vec_id", "embedding", "euclidean", 10).collect()
    }
    sb ++= "\n## SQ8 scalar quantization (4x compression, deterministic train)\n\n"
    sb ++= f"- recall@10 vs exact l2 (20 queries): $sqRecall%.2f\n"
    sb ++= f"- sec/query map-only code scan: $tSq%.3f (exact float scan: $tFlat%.3f)\n"
    sb ++= "- 64 B/vector vs 256 B raw; at 100 TB the scan reads 1/4 the bytes\n"
    sb ++= "  at near-exact recall, and min/max training is ONE aggregate pass\n"
    sb ++= "  (PQ needs Lloyd's iterations; SQ8 re-trains in one job).\n"

    // 5a. SQ4: same model, nibble-packed codes — half SQ8's bytes
    val sq4Codes = graft.operators.Sq.encode4(sqModel, e, "vec_id", "embedding").cache()
    sq4Codes.count()
    val sq4Recall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.Sq.search4WithRerank(sqModel, sq4Codes, e, q,
        "vec_id", "embedding", "euclidean", 10, 30)
        .collect().map(_.getLong(0)).toSet
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)
    val tSq4 = time() {
      graft.operators.Sq.search4(sqModel, sq4Codes, qdf0, "vec_id", 10).collect()
    }
    sb ++= "\n## SQ4 packed 4-bit quantization (8x compression, shared SQ8 model)\n\n"
    sb ++= f"- recall@10 after exact re-rank of 30: $sq4Recall%.2f\n"
    sb ++= f"- sec/query nibble-unpack code scan: $tSq4%.3f (sq8: $tSq%.3f)\n"
    sb ++= "- 32 B/vector: the shortlist pass reads HALF SQ8's bytes; wider\n"
    sb ++= "  cells push accuracy into the rerank step (recall matrix: 0.82\n"
    sb ++= "  raw vs 0.99 reranked), which touches only C full rows.\n"
    sq4Codes.unpersist()

    // 5b. BQ: the 1-bit family — recall via hamming shortlist + exact
    //     re-rank at two shortlist sizes, plus the raw code-scan cost
    val bqModel = graft.operators.Bq.train(e, "embedding", 64)
    val bqCodes = graft.operators.Bq.encode(bqModel, e, "vec_id", "embedding").cache()
    val bqN = bqCodes.count().toInt
    def bqRecall(cands: Int): Double = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.Bq.searchWithRerank(bqModel, bqCodes, e, q,
        "vec_id", "embedding", "euclidean", 10, cands)
        .collect().map(_.getLong(0)).toSet
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)
    val bqR50 = bqRecall(50); val bqR5pct = bqRecall(bqN / 20)
    val tBq = time() {
      graft.operators.Bq.search(bqModel, bqCodes, qdf0, "vec_id", 50).collect()
    }
    sb ++= "\n## BQ binary quantization (32x compression, deterministic train)\n\n"
    sb ++= f"- recall@10 after exact re-rank: $bqR50%.2f (50-cand shortlist), $bqR5pct%.2f (5%% of corpus)\n"
    sb ++= f"- sec/query 8-byte hamming scan (xor+popcount, map-only): $tBq%.3f\n"
    sb ++= "- 8 B/vector vs 256 B raw: at 100 TB the shortlist pass reads 1/32\n"
    sb ++= "  the bytes; 1-bit codes are coarser than SQ8, so the shortlist\n"
    sb ++= "  multiplier (not code width) is the recall knob — size C per the\n"
    sb ++= "  BqSpec monotone-recall contract, then re-rank exactly on C rows.\n"

    // 6. as-of join: union-merge vs naive range join + argmax
    val ev = Tables.load(spark, sfDir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("t"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("event_id").as("pid"),
        expr("ts div 1000").as("pt"), col("value"))
    val tAsof = time() {
      graft.operators.AsOf.asofJoin(clicks, purchases.withColumnRenamed("p_uid", "user_id")
          .withColumnRenamed("pt", "t"), "user_id", "t", "pid", Seq("pid"))
        .count()
    }
    val tNaive = time() {
      clicks.join(purchases,
          col("user_id") === col("p_uid") && col("pt") <= col("t"), "left")
        .groupBy(col("user_id"), col("event_id"))
        .agg(max_by(col("pid"), struct(col("pt"), col("pid"))).as("pid"))
        .count()
    }
    sb ++= "\n## As-of join: union-merge vs naive range join + argmax\n\n"
    sb ++= f"- AsOf.asofJoin (one sort-shuffle, no pair stream): $tAsof%.2f s\n"
    sb ++= f"- naive theta-join + max_by (pairs = per-key prefix products): $tNaive%.2f s\n"
    sb ++= "- the naive form materializes every (click, earlier purchase)\n"
    sb ++= "  pair before aggregating — quadratic in per-key density; the\n"
    sb ++= "  merge form's cost is the sort-shuffle of both inputs, full stop.\n"

    sb ++= "\n## ANN recall@10 (50 queries vs exact cosine)\n\n"
    sb ++= f"- LSH (8 planes, 1 bucket probed): recall@10 = $lshRecall%.2f\n"
    sb ++= f"- LSH multi-probe (hamming<=1, 9 of 256 buckets): recall@10 = $lshMpRecall%.2f\n"
    sb ++= f"- LSH multi-table (L=4 tables x 4 planes, OR-amplified): recall@10 = $lshTblRecall%.2f\n"
    sb ++= f"- IVF (k=16, nprobe=4): recall@10 = $ivfRecall%.2f\n"
    sb ++= f"- PQ-ADC (m=8, k=16 -> 8 bytes/vector, 32x compression): recall@10 vs exact l2 = $pqRecall%.2f\n"
    sb ++= f"- IVF-PQ composed (k=16 clusters, nprobe=4, same codes): recall@10 vs exact l2 = $ivfpqRecall%.2f, touches 1/4 the codes\n"

    val residIdx = graft.operators.IvfPq.buildResidual(e, "vec_id", "embedding",
      dim = 64, kClusters = 16, ivfIters = 3, m = 8, kCodes = 16, pqIters = 3)
    val residCodes = residIdx.codes.cache(); residCodes.count()
    val residRecall = qids.take(20).map { qid =>
      val q = e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val got = graft.operators.IvfPq.searchResidual(
          residIdx.copy(codes = residCodes), q, "vec_id", 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      val ex = Knn.topK(e, q, "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (ex intersect got).size
    }.sum / (20.0 * 10)
    sb ++= f"- IVF-PQ residual-encoded (classic, same code budget): recall@10 vs exact l2 = $residRecall%.2f\n"
    sb ++= "\nExact flat search stays the correctness baseline; LSH/IVF trade\n"
    sb ++= "recall for touching 1/buckets of the corpus — at 100 TB that is\n"
    sb ++= "the difference between scanning everything and a partition-pruned\n"
    sb ++= "probe (see AnnScaleSpec for the at-rest pruning proof).\n"

    // 6. the cross-family recall matrix (the oracled ann_recall_matrix
    // query verbatim — deterministic models, shared 10-query sample)
    sb ++= "\n## Recall matrix: every family x probe budget (ann_recall_matrix)\n\n"
    sb ++= "Recall@10 vs exact top-10 under each family's serving metric\n"
    sb ++= "(cosine for lsh/ivf, euclidean for the code-scan families),\n"
    sb ++= "10-query sample, deterministic static models — DuckDB-oracled:\n\n"
    sb ++= "| family | budget | recall@10 |\n|---|---|---|\n"
    graft.operators.Recall.matrix(e, "vec_id", "embedding").collect()
      .foreach { r =>
        sb ++= f"| ${r.getString(0)} | ${r.getString(1)} | ${r.getDouble(2)}%.2f |\n"
      }
    sb ++= "\nReading: sq8 is near-exact (dequantized l2 preserves ranking),\n"
    sb ++= "ivf routing dominates single-bucket lsh at this corpus size, and\n"
    sb ++= "the 8-byte code families (pq/bq) buy their 32x byte reduction\n"
    sb ++= "with recall that exact re-rank partially restores — grow the\n"
    sb ++= "shortlist (BqSpec's monotone-recall contract) to buy it back.\n"

    // 7. decontamination: exact shingle equi join vs the Bloom
    // prefilter — the crossover evidence. Same split as the oracled
    // queries (bench = doc_id % 97 == 0).
    sb ++= "\n## Decontamination: exact shuffle vs Bloom prefilter\n\n"
    sb ++= "| sf | exact (s) | bloom (s) | train shingle rows | rows past Bloom | survivor frac |\n|---|---|---|---|---|---|\n"
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(dir).isDirectory) {
        val d = Tables.load(spark, dir, "documents")
        val bench = d.where(col("doc_id") % 97 === 0)
        val train = d.where(col("doc_id") % 97 =!= 0)
        val tEx = time() {
          graft.operators.Corpus.contaminatedIds(
            train, bench, "text", "doc_id", 3).count()
        }
        val tBl = time() {
          graft.operators.Corpus.contaminatedIdsBloom(
            train, bench, "text", "doc_id", 3).count()
        }
        // the quantity the Bloom actually changes: shingle rows that
        // reach the shuffle (exact join shuffles ALL of them)
        val tSh = train.select(col("doc_id"),
          explode(TextExprs.shingle_hashes(col("text"), 3)).as("sh"))
        val total = tSh.count()
        val bSh = bench.select(
          explode(TextExprs.shingle_hashes(col("text"), 3)).as("sh")).distinct()
        val past = tSh.join(bSh.hint("broadcast"), Seq("sh"), "left_semi").count()
        sb ++= f"| $sf | $tEx%.2f | $tBl%.2f | $total | $past | ${past.toDouble / total}%.4f |\n"
      }
    }
    sb ++= "\nThe filter is sized from the actual distinct-shingle count (a\n"
    sb ++= "fixed 4M-item cap used to serialize a multi-MB Literal into\n"
    sb ++= "every task's plan and made bloom ~180x slower than exact at\n"
    sb ++= "sf0.1; right-sized it is KBs). The remaining gap at these toy\n"
    sb ++= "SFs is the filter build's extra pass + aggregate. The\n"
    sb ++= "survivor-fraction column is the scale story: the Bloom drops\n"
    sb ++= "91-99% of train shingle rows MAP-SIDE, so shuffle bytes scale as\n"
    sb ++= "survivor_frac x corpus instead of 1.0 x corpus. The exact join's\n"
    sb ++= "shuffle grows linearly with train tokens (100 TB -> ~100 TB\n"
    sb ++= "shuffled); the Bloom variant's shuffle stays proportional to the\n"
    sb ++= "(tiny) contaminated sliver while its fixed cost is unchanged —\n"
    sb ++= "the crossover lands as soon as the saved shuffle exceeds the\n"
    sb ++= "seconds-scale filter build, i.e. a few GB of train text.\n"

    // snapshot diff: digest join vs body join. Wall-clock is noise at
    // these SFs (the corpus fits in a few tasks); the honest metric is
    // SHUFFLE BYTES, which is what grows 100x at 100x scale — the
    // digest variant's join carries 32-hex md5s, the body variant
    // carries document text.
    sb ++= "\n## Snapshot diff: md5-digest join vs full-body join\n\n"
    locally {
      import graft.operators.Snapshot
      def shuffleBytes(f: => Unit): Long = {
        val acc = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              acc.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
        spark.sparkContext.addSparkListener(l)
        // no public listener-bus flush: give the async bus a beat to
        // drain task-end events before reading the counter
        try { f; Thread.sleep(1000) }
        finally spark.sparkContext.removeSparkListener(l)
        acc.get
      }
      val next = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      def rollup(diff: DataFrame): Unit = {
        diff.groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n")).count()
        ()
      }
      def bodyDiff: DataFrame = {
        def keyed(df: DataFrame, side: String) =
          df.select(col("doc_id").as(s"${side}_id"),
            col("source").as(s"${side}_src"), col("text").as(s"${side}_t"))
        keyed(docs, "o").join(keyed(next, "n"),
            col("o_id") === col("n_id"), "full_outer")
          .select(coalesce(col("n_src"), col("o_src")).as("source"),
            when(col("o_id").isNull, "added")
              .when(col("n_id").isNull, "removed")
              .when(col("o_t") =!= col("n_t"), "changed")
              .otherwise("unchanged").as("status"))
      }
      val td = time() {
        rollup(Snapshot.diff(docs, next, "doc_id", "text", "source"))
      }
      val tb = time() { rollup(bodyDiff) }
      val bd = shuffleBytes {
        rollup(Snapshot.diff(docs, next, "doc_id", "text", "source"))
      }
      val bb = shuffleBytes { rollup(bodyDiff) }
      sb ++= "| variant | time (s) | shuffle bytes |\n|---|---|---|\n"
      sb ++= f"| digest (md5 map-side) | $td%.2f | $bd%d |\n"
      sb ++= f"| body (text through join) | $tb%.2f | $bb%d |\n"
      sb ++= f"\nThe join itself is identical (one id-keyed full-outer SMJ);\n"
      sb ++= f"the digest variant shuffles ${if (bd > 0) bb / math.max(bd, 1) else 0}x fewer bytes because each\n"
      sb ++= "side reduces a document to 32 hex chars before the exchange.\n"
      sb ++= "At 100 TB the body variant shuffles the corpus; the digest\n"
      sb ++= "variant shuffles ~0.1% of it, at the cost of one map-side md5\n"
      sb ++= "per row per side.\n"
    }

    // cross-source overlap: the DISTINCT before the shingle self-join
    // is the whole scale story — without it the join fans out by
    // document frequency squared per shingle; with it, by at most
    // |sources| per shingle. Counted, not timed (row counts are the
    // quantity that explodes at 100x).
    sb ++= "\n## Cross-source overlap: DISTINCT-bounded self-join vs naive\n\n"
    locally {
      val sh = docs.select(col("source").as("src"),
        explode(TextExprs.shingle_hashes(col("text"), 3)).as("sh"))
      val dsh = sh.distinct()
      def selfJoinRows(side: DataFrame): Long = {
        val a = side.as("a"); val b = side.as("b")
        a.join(b, col("a.sh") === col("b.sh") && col("a.src") < col("b.src"))
          .count()
      }
      val nNaive = selfJoinRows(sh)
      val nBounded = selfJoinRows(dsh)
      sb ++= "| variant | shingle rows in | join rows out |\n|---|---|---|\n"
      sb ++= f"| naive (every occurrence) | ${sh.count()}%d | $nNaive%d |\n"
      sb ++= f"| DISTINCT (shingle, src) first | ${dsh.count()}%d | $nBounded%d |\n"
      val ratio = if (nBounded > 0) nNaive.toDouble / nBounded else 0.0
      sb ++= f"\n$ratio%.1fx fewer join rows on this corpus (its word-salad text\n"
      sb ++= "has little per-source repetition); the gap grows with document\n"
      sb ++= "frequency squared — a shingle in 1e6 docs of two sources is\n"
      sb ++= "1e12 naive join rows vs 1 bounded row — so the DISTINCT is\n"
      sb ++= "what keeps the audit runnable at corpus scale.\n"
    }

    // 10. observed scaling: a 10x synthetic corpus (each copy Caesar-
    // shifted so copies share no shingles — near-dup structure per
    // copy mirrors the original instead of exploding into identical-
    // text megabuckets; ids offset per copy) built in a temp dir,
    // never touching the test data. The headline bucketed shapes are
    // timed at 1x and 10x: near-linear observed growth is the direct
    // evidence behind the "bucketed, never all-pairs" claims.
    // near-dup generators head-to-head: both scored against the same
    // exact-Jaccard >= 1/2 truth (the dedup_recall oracles), computed
    // live at this sfDir
    sb ++= "\n## Near-dup generators: minhash bands vs winnowing fingerprints\n\n"
    locally {
      def report(name: String, df: DataFrame): String = {
        val r = df.collect().head
        // scorePairs emits NULL precision/recall when n_pred or
        // n_true is 0 (a corpus with no near-dup pairs) — print n/a
        // instead of NPE-ing the whole report
        def d(i: Int): String =
          if (r.isNullAt(i)) "n/a" else f"${r.getDouble(i)}%.3f"
        f"| $name | ${r.getLong(0)}%d | ${r.getLong(1)}%d | ${r.getLong(2)}%d " +
          s"| ${d(3)} | ${d(4)} |\n"
      }
      sb ++= "Both scored against the same exact shingle-Jaccard >= 1/2 truth\n"
      sb ++= "(`dedup_recall` / `dedup_winnow_recall`):\n\n"
      sb ++= "| generator | n_true | n_pred | n_hit | precision | recall |\n|---|---|---|---|---|---|\n"
      sb ++= report("minhash 8 seeds, 4 bands",
        graft.operators.Dedup.minhashRecallReport(docs, "text", "doc_id"))
      sb ++= report("winnow w=4, >=2 shared",
        graft.operators.Dedup.winnowRecallReport(docs, "text", "doc_id"))
      sb ++= "\nReading: winnowing never misses (its guarantee is deterministic —\n"
      sb ++= "any shared w+k-1-token run yields a shared fingerprint), but its\n"
      sb ++= "predictions track SPAN sharing, not resemblance: on a small-\n"
      sb ++= "vocabulary corpus short shared spans are everywhere, so precision\n"
      sb ++= "decays with corpus size while minhash bands - which approximate\n"
      sb ++= "Jaccard itself - stay calibrated. Operationally: winnowing is the\n"
      sb ++= "candidate generator for plagiarism/contamination-style span\n"
      sb ++= "detection (pair it with the edit/containment verify pass, which\n"
      sb ++= "prunes its false candidates exactly); minhash is the generator\n"
      sb ++= "for resemblance-level dedup. Both are bucketed equi joins with\n"
      sb ++= "bounded fan-out (bands; df-capped fingerprints), so both scale\n"
      sb ++= "identically - the choice is semantic, not computational.\n"
    }

    sb ++= "\n## Scaling: documents x10 (synthetic, disjoint shingles per copy)\n\n"
    locally {
      // the sections above leave persisted blocks + GC debt behind;
      // scaling ratios are only meaningful from a clean slate, and
      // min-of-reps (not mean) keeps a single GC straggler from
      // masquerading as super-linear growth
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      def minTime(f: => Unit): Double = {
        f // warmup
        (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      }
      val copies = 10
      val scaleDir = Files.createTempDirectory("graft_scale").toString
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val d0 = docs
      val e0 = Tables.load(spark, sfDir, "embeddings")
      (0 until copies).map { k =>
        d0.withColumn("doc_id", col("doc_id") + lit(k * 100000000L))
          .withColumn("text",
            translate(col("text"), alpha, alpha.drop(k) + alpha.take(k)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
      (0 until copies).map { k =>
        e0.withColumn("vec_id", col("vec_id") + lit(k * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
      val d10 = spark.read.parquet(s"$scaleDir/documents.parquet")
      val e10 = spark.read.parquet(s"$scaleDir/embeddings.parquet")

      def ops(docsDf: DataFrame, embDf: DataFrame): Seq[(String, Double, Long)] = {
        val bench = docsDf.where(col("doc_id") % 97 === 0)
        val train = docsDf.where(col("doc_id") % 97 =!= 0)
        var out = Vector.empty[(String, Double, Long)]
        var n = 0L
        def op(name: String)(f: => Long): Unit = {
          val t = minTime { n = f }
          out :+= ((name, t, n)); ()
        }
        op("dedup_minhash pairs") {
          graft.operators.Dedup.minhashPairs(docsDf, "text", "doc_id").count()
        }
        op("dedup_winnow pairs") {
          graft.operators.Dedup.winnowPairs(docsDf, "text", "doc_id").count()
        }
        op("decontaminate exact") {
          graft.operators.Corpus.contaminatedIds(
            train, bench, "text", "doc_id", 3).count()
        }
        op("decontaminate bloom") {
          graft.operators.Corpus.contaminatedIdsBloom(
            train, bench, "text", "doc_id", 3).count()
        }
        op("source_overlap") {
          graft.operators.Corpus.sourceOverlap(
            docsDf, "text", "source", 3).count()
        }
        // pruned-ANN serve: static first-8 coarse centroids, corpus
        // tagged once (the at-rest index), 10-query batch probe with
        // nprobe=2 — serving cost ~ scanned-cluster rows, not corpus
        locally {
          val cents = embDf.where(col("vec_id") < 8)
            .select(col("vec_id").cast("int").as("cluster"),
              transform(col("embedding"), _.cast("double")).as("centroid"))
          val tagged = Ann.tagCorpus(embDf, "vec_id", "embedding", cents).persist()
          tagged.count()
          val batch = embDf.where(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
          op("ivf_static serve (10q, nprobe=2)") {
            Ann.searchIvfBatch(tagged, cents, batch,
              "vec_id", "embedding", "cosine", 10, 2).count()
          }
          tagged.unpersist(false)
        }
        out
      }
      val r1 = ops(d0, e0)
      val r10 = ops(d10, e10)
      sb ++= f"Corpus: ${d0.count()}%d -> ${d10.count()}%d docs, ${e0.count()}%d -> ${e10.count()}%d vectors (10.0x).\n\n"
      sb ++= "| operation | 1x (s) | 10x (s) | time ratio | rows out 1x | rows out 10x |\n|---|---|---|---|---|---|\n"
      r1.zip(r10).foreach { case ((name, t1, n1), (_, t10, n10)) =>
        sb ++= f"| $name | $t1%.2f | $t10%.2f | ${t10 / math.max(t1, 1e-9)}%.1fx | $n1%d | $n10%d |\n"
      }
      sb ++= "\nEvery shape stays at-or-under linear (10x data -> <=10x time,\n"
      sb ++= "with fixed per-job overheads amortizing better at 10x): pair\n"
      sb ++= "generation is band-bucketed (minhash) / df-capped (winnow),\n"
      sb ++= "decontamination meets in an equi\n"
      sb ++= "join (bloom prunes map-side), the overlap matrix is DISTINCT-\n"
      sb ++= "bounded, and the IVF probe scans only nprobe/8 of the corpus.\n"
      sb ++= "Output rows track the 10x input (pairs/contamination scale\n"
      sb ++= "with the corpus; the overlap matrix stays |sources|^2-bounded).\n"

      // round-10 additions at 10x, run VERBATIM from the query
      // registry against the synthetic dir (it holds documents +
      // embeddings, the only tables these touch): the LM-scoring
      // joins are vocab-bounded, rep-filter's ban list is a top-16
      // broadcast, the growth curve is globalNtile + one hash join,
      // and the bootstrap fans out x64 map-side — all should track
      // the corpus linearly
      sb ++= "\n### Round-10 additions at 10x (same registry code, both dirs)\n\n"
      sb ++= "| query | 1x (s) | 10x (s) | time ratio |\n|---|---|---|---|\n"
      Seq("split_ppl_gap", "corpus_rep_filter", "dedup_growth_curve",
          "quality_bootstrap_ci").foreach { q =>
        def run(d: String): Double = minTime {
          SparkEntry.queries(q)(spark, d).count(); ()
        }
        val t1 = run(sfDir); val t10 = run(scaleDir)
        sb ++= f"| $q | $t1%.2f | $t10%.2f | ${t10 / math.max(t1, 1e-9)}%.1fx |\n"
      }
      // graph family at 10x — the kNN-graph lifecycle claims measured
      // (VERDICT r12 item 4): build is O(n·k²) PER ROUND with the
      // count-derived round count adding one round per corpus
      // doubling, so the honest build bound at 10x is
      // 10x · (rounds10/rounds1), NOT 10x flat; serve and append are
      // corpus-size-independent keyed work (up to the log-n growth of
      // the count-derived beam/hop budgets). The generic 10x
      // embeddings above offset copy ids by k·1e8 (sparse); the graph
      // ring init REQUIRES ids dense in [0, n), so this block re-keys
      // the copies at k·n0.
      sb ++= "\n### Graph family at 10x (dense-id synthetic embeddings)\n\n"
      locally {
        import graft.operators.KnnGraph
        val n0 = e0.count()
        (0 until copies).map { k =>
          e0.withColumn("vec_id", col("vec_id") + lit(k * n0))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$scaleDir/emb_dense.parquet")
        val eD10 = spark.read.parquet(s"$scaleDir/emb_dense.parquet")
        final case class G(n: Long, rounds: Int, beam: Int, hops: Int,
          tBuild: Double, tSearch: Double, tAppend: Double)
        def measure(embDf: DataFrame): G = {
          var build: KnnGraph.Build = null
          val tB = minTime {
            build = KnnGraph.nnDescentBuild(embDf, "vec_id", "embedding", 16)
            build.rounds.last.count(); ()
          }
          // serve + maintain from the AT-REST layout (writeIndex →
          // loadIndex: shard-partitioned edges, read once per serve)
          // — the production path, not the in-memory build
          val idxDir = java.nio.file.Files
            .createTempDirectory("graft_mb_graph").toString
          AtRest.deleteOnExit(idxDir)
          KnnGraph.writeIndex(build, idxDir)
          val loaded = KnnGraph.loadIndex(spark, idxDir)
          val qs = loaded.vecs.where(col("id") < 10)
            .select(col("id").as("qid"), col("v").as("qv"),
              col("bucket").as("qbucket"))
          val tS = minTime {
            KnnGraph.beamSearch(loaded.rounds.last, loaded.vecs, qs,
              loaded.n, k = 8).count(); ()
          }
          // append a FIXED 64-vector batch onto the loaded base (ids
          // n..n+63, vectors recycled from the head of the corpus) —
          // maintenance cost must not scale with the base corpus
          val batch = loaded.vecs.where(col("id") < 64)
            .select((col("id") + lit(loaded.n)).as("qid"),
              col("v").as("qv"), col("bucket").as("qbucket"))
            .localCheckpoint(true)
          val tA = minTime {
            KnnGraph.appendBatch(loaded, batch, 16).graph.count(); ()
          }
          G(build.n, build.rounds.length - 1,
            KnnGraph.adaptiveBeam(build.n),
            KnnGraph.adaptiveHops(build.n, 8), tB, tS, tA)
        }
        val g1 = measure(e0)
        val g10 = measure(eD10)
        sb ++= "| corpus | n | build rounds | beam | hops | build (s) | search 10q (s) | append 64 (s) |\n"
        sb ++= "|---|---|---|---|---|---|---|---|\n"
        Seq(("1x", g1), ("10x", g10)).foreach { case (l, g) =>
          sb ++= f"| $l | ${g.n}%d | ${g.rounds}%d | ${g.beam}%d | ${g.hops}%d | ${g.tBuild}%.2f | ${g.tSearch}%.2f | ${g.tAppend}%.2f |\n"
        }
        val bound = 10.0 * g10.rounds / g1.rounds
        sb ++= f"\nBuild grew ${g10.tBuild / math.max(g1.tBuild, 1e-9)}%.1fx vs the "
        sb ++= f"O(n·k²·rounds) bound of $bound%.0fx (10x data x ${g10.rounds}%d/${g1.rounds}%d "
        sb ++= "count-derived rounds); per-round work is keyed by node id, so a\n"
        sb ++= "cluster shards it — the round count is the only super-linear term.\n"
        sb ++= f"Search grew ${g10.tSearch / math.max(g1.tSearch, 1e-9)}%.1fx and append "
        sb ++= f"${g10.tAppend / math.max(g1.tAppend, 1e-9)}%.1fx on 10x data: search is\n"
        sb ++= "one in-task walk per query (the graph_walk kernel, O(hops·beam·degree)\n"
        sb ++= "distances) and append's refine keyed joins (O(|batch|·degree³)) —\n"
        sb ++= "only the log-n beam/hop budgets and the served blocks grow (the\n"
        sb ++= "count-derived knobs above show the budget growth explicitly).\n"
        sb ++= "\nThe search/append columns measure the PRODUCTION path:\n"
        sb ++= "writeIndex -> loadIndex, with the at-rest edge frame written\n"
        sb ++= "`partitionBy(shard)` (shard = src >> (ceil(log2 n)/2), ~sqrt(n)\n"
        sb ++= "contiguous-id directories, KnnGraph.edgeShardShift). A serve reads\n"
        sb ++= "the whole edge frame once per action, as one block of the walk\n"
        sb ++= "kernel (the served graph fits in a task), so the layout does not\n"
        sb ++= "prune serving; results are byte-identical either way (shard is\n"
        sb ++= "implied by src).\n"
        sb ++= "\n### Filtered-search selectivity floor (measured at n=500)\n\n"
        sb ++= "Degree-8 basis, evaluated = beam*(degree+1)*(hops+1) = 27*9*4 =\n"
        sb ++= "972 per query:\n\n"
        sb ++= "| predicate | allowed | expected admits p*evaluated | measured fill |\n"
        sb ++= "|---|---|---|---|\n"
        sb ++= "| label = 3 (~10%) | ~50 | ~97 | all 10 queries fill top-k |\n"
        sb ++= "| single node (0.2%) | 1 | ~2 | <= 1 row per query (starved) |\n"
        sb ++= "\nThe walk admits only from its visited set, so below\n"
        sb ++= "`allowed * evaluated >= k * n` it returns fewer than k matches\n"
        sb ++= "even when k exist - KnnGraph.filteredViable encodes the rule,\n"
        sb ++= "and the SQL graph route checks it at plan time (one\n"
        sb ++= "filtered-scan count) and falls back to filter-then-rank: an\n"
        sb ++= "ultra-selective predicate leaves only ~allowed rows to rank, so\n"
        sb ++= "the exact path is both correct and cheap. FilteredGraphSpec\n"
        sb ++= "pins the measurement and the fallback plan.\n"
      }

      // best-effort temp cleanup
      AtRest.deleteTree(scaleDir)
    }

    // 9. AQE skew join vs salted join, measured (SURVEY §5 calls the
    //    quality_perplexity vocab join "the canonical AQE skew case" —
    //    this is the data behind that claim). Synthesized skewed fact
    //    (50% of rows on ONE token, the Zipf head) joined to a
    //    mid-size vocab, broadcast disabled so the join actually
    //    sort-merges: (a) AQE skewJoin OFF — the hot key's whole mass
    //    serializes into one reducer; (b) skewJoin ON — AQE re-splits
    //    the oversized partition from shuffle stats; (c) the manual
    //    Skew.saltedJoin — same spread, chosen a priori.
    sb ++= "\n## AQE skew join vs salted join (measured three-way)\n\n"
    locally {
      val tmp = Files.createTempDirectory("graft_skew").toString
      val nFact = 3000000L
      val nVocab = 200000L
      spark.range(nFact).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(abs(hash(col("id"))), lit(nVocab))).as("tok"),
          (col("id") % 1000).cast("double").as("w"))
        .write.mode("overwrite").parquet(s"$tmp/fact")
      spark.range(nVocab).select(col("id").as("tok"),
          (col("id") % 97).cast("double").as("score"))
        .write.mode("overwrite").parquet(s"$tmp/vocab")
      val fact = spark.read.parquet(s"$tmp/fact")
      val vocab = spark.read.parquet(s"$tmp/vocab")

      // measured split sizes: rows per hash(tok) shuffle partition
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val hist = fact.groupBy(pmod(hash(col("tok")), lit(parts)).as("p"))
        .count().select(col("count")).collect().map(_.getLong(0)).sorted
      val saltHist = fact
        .groupBy(pmod(hash(col("tok")), lit(parts)).as("p"),
          pmod(hash(col("w")), lit(32)).as("s"))
        .count().select(col("count")).collect().map(_.getLong(0)).sorted
      sb ++= f"Fact ${nFact}%d rows, 50%% on one token; vocab ${nVocab}%d rows; "
      sb ++= f"broadcast disabled (forced sort-merge), $parts shuffle partitions.\n\n"
      sb ++= f"Measured hash(tok) partition rows: max ${hist.last}%d vs median "
      sb ++= f"${hist(hist.length / 2)}%d (${hist.last.toDouble / hist(hist.length / 2)}%.0fx skew); "
      sb ++= f"after 32-way salting: max ${saltHist.last}%d (${hist.last / saltHist.last}%dx flatter).\n\n"

      def withConf[A](pairs: (String, String)*)(body: => A): A = {
        val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
        pairs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
      val agg = (j: DataFrame) =>
        j.agg(sum(col("w") * col("score"))).collect()
      val base = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      // AQE's skew thresholds are tuned for CLUSTER-scale partitions
      // (256 MB / 5x of the COMPRESSED shuffle bytes — and a
      // constant-key hot partition LZ4-compresses to a few MB here),
      // so the defaults correctly judge the bench-scale partition not
      // worth splitting. Scale the thresholds to bench size so the
      // SAME mechanism fires that a 100 TB partition trips on the
      // defaults.
      val skewConf = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k")
      val tOff = withConf(base :+
          ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
        time() { agg(fact.join(vocab, "tok")) }
      }
      val tOn = withConf(base ++ skewConf: _*) {
        time() { agg(fact.join(vocab, "tok")) }
      }
      val tSalt = withConf(base :+
          ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
        time() { agg(Skew.saltedJoin(fact, vocab, Seq("tok"),
          hash(col("w")), saltBuckets = 32)) }
      }
      // evidence of the runtime re-split: the FINAL adaptive plan's
      // skew markers + the skew reader's split metrics in run (b)
      val (skewMarks, skewSplits) = withConf(base ++ skewConf: _*) {
        val j = fact.join(vocab, "tok").agg(sum(col("w") * col("score")))
        j.collect()
        val exec = j.queryExecution.executedPlan
        val marks = "skew=true".r.findAllIn(exec.toString).length
        def reads(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec] =
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              reads(a.executedPlan)
            // query stages are LEAF nodes — descend into their plan
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              reads(q.plan)
            case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
              r +: p.children.flatMap(reads)
            case _ => p.children.flatMap(reads)
          }
        val splits = reads(exec)
          .flatMap(_.metrics.get("numSkewedSplits").map(_.value))
          .sum
        (marks, splits)
      }
      sb ++= "| strategy | wall (s) |\n|---|---|\n"
      sb ++= f"| sort-merge, AQE skewJoin OFF | $tOff%.2f |\n"
      sb ++= f"| sort-merge, AQE skewJoin ON (thresholds scaled to bench size) | $tOn%.2f |\n"
      sb ++= f"| Skew.saltedJoin (32 buckets), skewJoin OFF | $tSalt%.2f |\n"
      sb ++= f"\nFinal adaptive plan in run (b): $skewMarks%d `skew=true` join\n"
      sb ++= f"marker(s), hot partition re-split into $skewSplits%d reader\n"
      sb ++= "splits from runtime shuffle stats. The skew thresholds are\n"
      sb ++= "scaled to bench size (1 MB/2x vs the 256 MB/5x defaults)\n"
      sb ++= "because AQE measures COMPRESSED shuffle bytes sized for\n"
      sb ++= "cluster-scale partitions — a constant-key hot partition\n"
      sb ++= "LZ4-compresses to a few MB here, while a 100 TB corpus trips\n"
      sb ++= "the defaults naturally. Reading: AQE subsumes the manual salt\n"
      sb ++= "for plain sort-merge joins (and needs no dim-side\n"
      sb ++= "replication); saltedJoin remains for a-priori-known skew,\n"
      sb ++= "non-sort-merge joins, and deterministic at-rest layouts\n"
      sb ++= "(Skew.scala scaladoc).\n"
      AtRest.deleteTree(tmp)
    }

    // Connected components: label propagation vs star contraction.
    // On the REAL dup graph (quasi-cliques, diameter ~2) propagation's
    // fewer passes should win; on a chain, propagation cannot finish
    // at all (rounds = diameter; its guard throws) while star
    // contraction converges in O(log n) — that asymmetry, measured.
    {
      sb ++= "\n## Connected components: label propagation vs star contraction\n\n"
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id")
        .localCheckpoint(eager = true)
      val ids = docs.select(col("doc_id")).localCheckpoint(eager = true)
      val tProp = time(warm = 1, reps = 2) {
        Dedup.connectedComponents(ids, pairs, "doc_id", "doc_a", "doc_b")
          .count()
      }
      val tStar = time(warm = 1, reps = 2) {
        Dedup.connectedComponentsStar(ids, pairs, "doc_id", "doc_a", "doc_b")
          .count()
      }
      val n = 5000
      val chainNodes = spark.range(n).toDF("id")
      val chainPairs = spark.range(n - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
        .localCheckpoint(eager = true)
      val propChain =
        try {
          Dedup.connectedComponents(chainNodes, chainPairs, "id", "a", "b")
            .count(); "finished (unexpected)"
        } catch {
          case _: IllegalStateException => "guard trips at 30 rounds"
        }
      val tStarChain = time(warm = 1, reps = 2) {
        Dedup.connectedComponentsStar(chainNodes, chainPairs, "id", "a", "b")
          .count()
      }
      sb ++= "| graph | label propagation (s) | star contraction (s) |\n|---|---|---|\n"
      sb ++= f"| corpus dup graph (quasi-cliques, diameter ~2) | $tProp%.2f | $tStar%.2f |\n"
      sb ++= f"| 5000-node chain (diameter 4999) | $propChain | $tStarChain%.2f |\n"
      sb ++= "\nReading: on real near-dup graphs propagation's 2-3 cheap\n"
      sb ++= "rounds beat star contraction's heavier per-round work (two\n"
      sb ++= "groupBy-min passes + re-symmetrize), so `dedup_clusters`\n"
      sb ++= "keeps propagation; star contraction (`dedup_cc_star`) is the\n"
      sb ++= "insurance policy for adversarial diameters, where propagation\n"
      sb ++= "does not terminate at all. Same fixpoint, same oracle.\n"
    }

    // Interval join, the KEYLESS (global-window) case: with a
    // selective equi-key Catalyst already plans a hash join with the
    // range as a residual filter (measured: keyed naive == bucketed
    // within noise); the nested loop appears when windows are global
    // — exactly the case the bucket join fixes by bounding candidates
    // by TIME LOCALITY instead of key selectivity
    {
      sb ++= "\n## Global-window interval join: nested-loop vs bucketed\n\n"
      val ev = Tables.load(spark, sfDir, "events")
      val win = 600L * 1000000L
      // global windows: EVERY error polices ALL clicks — |clicks| x
      // |windows| nested-loop comparisons (~400M at sf0.1) vs the
      // bucket join's ~|buckets| x (per-bucket clicks x windows)
      def iv(f: DataFrame) = f.where(col("event_type") === "error")
        .select(lit(0L).as("k"), col("event_id").as("win_id"),
          expr("ts div 1000").as("lo"),
          (expr("ts div 1000") + win).as("hi"))
      def pt(f: DataFrame) = f.where(col("event_type") === "click")
        .select(lit(0L).as("k"), col("event_id"),
          expr("ts div 1000").as("p"))
      val sub = ev.where(pmod(col("event_id"), lit(4)) === 0)
        .localCheckpoint(eager = true)
      val evAll = ev.localCheckpoint(eager = true)
      def naive(f: DataFrame) =
        pt(f).as("p").join(iv(f).as("i"),
          col("p.p") >= col("i.lo") && col("p.p") < col("i.hi")).count()
      val tNaiveSub = time(warm = 0, reps = 1) { naive(sub) }
      val tNaiveAll = time(warm = 0, reps = 1) { naive(evAll) }
      val tBucketSub = time(warm = 1, reps = 2) {
        AsOf.intervalJoin(pt(sub), iv(sub), "k", "p", "lo", "hi", win)
          .count()
      }
      val tBucketAll = time(warm = 1, reps = 2) {
        AsOf.intervalJoin(pt(evAll), iv(evAll), "k", "p", "lo", "hi", win)
          .count()
      }
      val nSub = sub.count(); val nAll = evAll.count()
      sb ++= "| input | range-only nested loop (s) | AsOf.intervalJoin (s) |\n|---|---|---|\n"
      sb ++= f"| 1/4 subsample ($nSub%d events) | $tNaiveSub%.2f | $tBucketSub%.2f |\n"
      sb ++= f"| full corpus ($nAll%d events) | $tNaiveAll%.2f | $tBucketAll%.2f |\n"
      sb ++= "\nReading: with only range predicates Catalyst has no equi\n"
      sb ++= "key, so the plan is a BroadcastNestedLoopJoin — every click\n"
      sb ++= "against every global window (4x the events -> 16x the pair\n"
      sb ++= "count). The bucket join manufactures the equi key from time\n"
      sb ++= "(explode intervals to ~2 covered buckets, hash-join on\n"
      sb ++= "bucket, exact post-filter), so it scales linearly even with\n"
      sb ++= "ONE shared key, and is plan-guarded to never contain a\n"
      sb ++= "nested loop. With a selective per-user key both forms are\n"
      sb ++= "hash joins and measure the same — the bucket join is the\n"
      sb ++= "hot-key/keyless insurance, not a universal replacement.\n"
    }

    // Adaptive vs fixed nprobe on the static-centroid IVF: does the
    // per-query 1.25x margin (ann_ivf_adaptive) buy recall per probe,
    // or is a fixed budget just as good on this corpus?
    {
      sb ++= "\n## IVF probe budget: fixed nprobe vs adaptive 1.25x margin\n\n"
      import org.apache.spark.sql.expressions.Window
      val cents = e.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
      val tagged = Ann.tagCorpus(e, "vec_id", "embedding", cents)
        .localCheckpoint(eager = true)
      val mod = math.max(1L, (e.count() + 7L) / 8L)
      val qs = e.where(pmod(col("vec_id"), lit(mod)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(eager = true)
      val nq = qs.count()
      val exact = e.crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"),
          round(graft.functions.VectorFunctions
            .vec_cosine(col("embedding"), col("qvec")), 4).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .where(col("rn") <= 10).select(col("qid"), col("vec_id"))
        .localCheckpoint(eager = true)
      val nExact = exact.count()
      def recallOf(res: DataFrame): Double =
        res.join(exact, Seq("qid", "vec_id")).count().toDouble / nExact
      sb ++= "| config | mean probes/query | recall@10 |\n|---|---|---|\n"
      Seq(1, 2, 4, 6).foreach { np =>
        val r = recallOf(Ann.searchIvfBatch(tagged, cents, qs,
          "vec_id", "embedding", "cosine", 10, nprobe = np)
          .select(col("qid"), col("vec_id")))
        sb ++= f"| fixed nprobe=$np | $np%.1f | $r%.3f |\n"
      }
      val routed = qs.crossJoin(broadcast(cents))
        .select(col("qid"), col("qvec"), col("cluster"),
          graft.functions.VectorFunctions.vec_l2(
            transform(col("qvec"), _.cast("double")), col("centroid"))
            .as("cd"))
        .withColumn("dmin",
          min(col("cd")).over(Window.partitionBy(col("qid"))))
        .where(col("cd") <= col("dmin") * 1.25)
        .select(col("qid"), col("qvec"), col("cluster"))
        .localCheckpoint(eager = true)
      val meanProbes = routed.count().toDouble / nq
      val dA = graft.functions.VectorFunctions
        .forMetric("cosine")(col("embedding"), col("qvec"))
      val resA = tagged.join(broadcast(routed), Seq("cluster"))
        .select(col("qid"), col("vec_id"), round(dA, 4).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
        .where(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val rA = recallOf(resA)
      sb ++= f"| adaptive 1.25x margin | $meanProbes%.1f | $rA%.3f |\n"
      sb ++= "\nReading: the margin rule spends probes where the query is\n"
      sb ++= "ambiguous (equidistant centroids) and saves them where it is\n"
      sb ++= "confident, so its recall at a given MEAN budget sits on or\n"
      sb ++= "above the fixed-nprobe curve; a query identical to a\n"
      sb ++= "centroid probes exactly one cluster. The knob to tune is the\n"
      sb ++= "margin ratio, not a global probe count — the same serving\n"
      sb ++= "layout (ann_ivf_adaptive is the oracled form).\n"
    }

    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PERF.md"), sb.toString)
    println("wrote docs/PERF.md")
    spark.stop()
  }
}
