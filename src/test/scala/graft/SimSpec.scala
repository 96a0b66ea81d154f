package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.core.Tables

class SimSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f, 2f), Array(1f, 0f, 2f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f))).toDF("a", "b")
    val got = df.select(round(Similarity.cosine($"a", $"b"), 9)).as[Double].collect()
    assert(got(0) == 1.0 && got(1) == 0.0)
  }

  test("brute force topk: k rows per query, ranked desc, no self") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 5),
      "vec_id", "embedding", k = 3).collect()
    assert(out.length == 15)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("cos")).sliding(2).forall {
        case Array(x, y) => x >= y case _ => true })
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
    }
  }

  test("IVF top-1 recall vs brute force is high on testdata") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where($"vec_id" >= 100 && $"vec_id" < 140)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val centroids = emb.where($"vec_id" < 16)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cvec"))
    val assigned = Similarity.Ivf.assign(emb, centroids, "vec_id", "embedding")
    val approx = Similarity.Ivf.search(assigned, centroids, queries,
        "vec_id", "embedding", k = 1, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    // random 64-dim embeddings are a worst case for IVF; nprobe=8 of 16
    // buckets must still recover a solid majority of true top-1s
    assert(hits >= exact.size / 2, s"recall $hits/${exact.size}")
  }

  test("recall curve: IVF recall@5 rises with nprobe; quantized recall is exact") {
    // the registry gates (sim_ivf_recall / sim_quantized_recall) pin
    // the recall VALUES cross-engine; the inequalities — monotone in
    // nprobe, quantized ≥ 0.9 floor — are asserted here
    val ivf = graft.queries.SimQueries.simIvfRecall(spark, sfDir)
      .select("nprobe", "recall")
      .as[(Int, Double)].collect().sortBy(_._1)
    assert(ivf.map(_._1).toSeq == Seq(4, 8, 12))
    assert(ivf.sliding(2).forall { case Array(a, b) => b._2 >= a._2 },
      s"recall not monotone in nprobe: ${ivf.toSeq}")
    assert(ivf.last._2 > ivf.head._2,
      s"probing 3x the buckets must improve recall: ${ivf.toSeq}")
    val qz = graft.queries.SimQueries.simQuantizedRecall(spark, sfDir)
      .select("recall").as[Double].head()
    assert(qz >= 0.9, s"quantized two-stage recall $qz below the 0.9 floor")
  }

  test("k-means-trained IVF recall is at least as good as id-sampled centroids") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where($"vec_id" >= 100 && $"vec_id" < 140)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    def recall(centroids: org.apache.spark.sql.DataFrame): Int = {
      val assigned = Similarity.Ivf.assign(emb, centroids, "vec_id", "embedding")
      val approx = Similarity.Ivf.search(assigned, centroids, queries,
          "vec_id", "embedding", k = 1, nprobe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      exact.count { case (q, n) => approx.get(q).contains(n) }
    }
    val naive = emb.where($"vec_id" < 16)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cvec"))
    val trained = graft.sim.KMeans.train(emb, "vec_id", "embedding", 16, 2)
    val (rNaive, rTrained) = (recall(naive), recall(trained))
    info(s"recall naive=$rNaive trained=$rTrained of ${exact.size}")
    assert(rTrained >= rNaive - 2) // trained should not be worse (noise margin)
  }

  test("multimodal stub decode: batch plumbing preserves rows and is deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val payloads = graft.multimodal.BinaryPipeline.withPayload(docs, "doc_id", "text")
    val a = graft.multimodal.BinaryPipeline.decode(payloads).collect()
    val b = graft.multimodal.BinaryPipeline.decode(payloads).collect()
    assert(a.length == docs.count())
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq)
  }

  test("RHP-LSH finds every planted near-dup pair with far fewer candidates than n²") {
    import graft.sim.RhpLsh
    val base = Tables.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("embedding"))
    val planted = base.select(
      ($"vec_id" + 100000).as("vec_id"),
      transform($"embedding", (x, i) =>
        x * (lit(1.0) + lit(0.02) * (i % 5 - lit(2)))).as("embedding"))
    val corpus = base.unionByName(planted)
    val n = corpus.count()

    val got = RhpLsh.nearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9, nBits = 64, bandBits = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val want = graft.sim.Similarity.nearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want, s"recall/precision break: missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // uncapped, no bucket is over the cap: the same pairs
    val uncapped = RhpLsh.nearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9, nBits = 64, bandBits = 8, maxBucketSize = Int.MaxValue)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uncapped == got)

    val nCands = RhpLsh.candidatePairs(
      RhpLsh.signatures(corpus, "vec_id", "embedding", nBits = 64),
      nBits = 64, bandBits = 8).count()
    info(s"candidates=$nCands of ${n * (n - 1) / 2} possible, true pairs=${want.size}")
    assert(nCands < n * (n - 1) / 2 / 10, "LSH pruned less than 90% of the pair space")
  }

  test("quantized two-stage retrieval recovers most exact top-5 neighbors") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = graft.sim.Quantize.topK(emb, queries, "vec_id", "embedding",
        k = 5, shortlistK = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.map { case (q, ns) => (quant.getOrElse(q, Set.empty) & ns).size }.sum
    val total = exact.values.map(_.size).sum
    info(s"recall@5 = $hits/$total")
    // 8-bit codes on random 64-dim data with a 50-wide shortlist should
    // recover a solid majority of true neighbors
    assert(hits.toDouble / total >= 0.6, s"recall $hits/$total")
  }

  test("native DotProduct kernel is bit-identical to the declarative HOF path") {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = emb.select($"vec_id".as("a"), $"embedding".as("va"))
      .crossJoin(emb.select($"vec_id".as("b"), $"embedding".as("vb")))
      .where($"a" < $"b" && $"b" - $"a" <= 3) // a band of pairs, not n²
    val diverging = pairs.select(
        Similarity.dot($"va", $"vb").as("nat"),
        Similarity.dotDeclarative($"va", $"vb").as("dec"))
      .where($"nat" =!= $"dec" || $"nat".isNull =!= $"dec".isNull)
      .count()
    assert(diverging == 0, s"$diverging pairs diverge between kernels")
    // null/length-mismatch semantics agree too
    val edge = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)),
      (null.asInstanceOf[Array[Float]], Array(1f))).toDF("x", "y")
    val got = edge.select(Similarity.dot($"x", $"y")).collect().map(_.isNullAt(0))
    assert(got.forall(identity), "mismatched/null inputs must yield null")
  }

  test("low-threshold RHP banding (dedup_embedding params) reproduces the exact baseline") {
    import graft.sim.RhpLsh
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = RhpLsh.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.46,
        nBits = 64, bandBits = 2, maxBucketSize = Int.MaxValue)
    val got = pairs.select("a", "b").as[(Long, Long)].collect().toSet
    val want = Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.46)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // 32 bands of 2 bits cannot prune: the exact path, no band stage
    assert(!pairs.queryExecution.executedPlan.toString.contains("posexplode"),
      pairs.queryExecution.executedPlan.toString)
  }

  test("dedup_embedding leaves no persisted RDDs and no cache entries") {
    import org.apache.spark.sql.CacheEntries
    val blocks0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val entries0 = CacheEntries(spark)
    assert(graft.queries.DedupQueries.dedupEmbedding(spark, sfDir).count() > 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- blocks0
    assert(leaked.isEmpty, s"dedup_embedding leaked cached RDDs: $leaked")
    assert(CacheEntries(spark) == entries0,
      s"dedup_embedding left ${CacheEntries(spark) - entries0} cache entries")
  }

  test("native RhpSig kernel is bit-exact with the declarative signature path") {
    import graft.sim.RhpLsh
    val emb = Tables.embeddings(spark, sfDir)
    val nat = RhpLsh.signatures(emb, "vec_id", "embedding", nBits = 64, native = true)
      .as[(Long, Long)].collect().toMap
    val dec = RhpLsh.signatures(emb, "vec_id", "embedding", nBits = 64, native = false)
      .as[(Long, Long)].collect().toMap
    assert(nat.nonEmpty && nat == dec,
      s"diverging ids: ${nat.keySet.filter(k => nat(k) != dec.getOrElse(k, -1L)).take(5)}")
  }

  test("RhpSigWide word 0 equals RhpSig; wide banding finds planted pairs") {
    import graft.sim.RhpLsh
    val emb = Tables.embeddings(spark, sfDir)
    val narrow = RhpLsh.signatures(emb, "vec_id", "embedding", nBits = 64)
      .as[(Long, Long)].collect().toMap
    val wide = RhpLsh.signatures(emb, "vec_id", "embedding", nBits = 128)
      .as[(Long, Seq[Long])].collect().toMap
    assert(wide.nonEmpty && wide.values.forall(_.length == 2))
    assert(narrow.keys.forall(k => wide(k).head == narrow(k)),
      "first 64 planes must produce the identical word")
    // wide-band candidates still contain every exact-duplicate pair
    val base = emb.select(col("vec_id"), col("embedding"))
    val dup = base.select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cands = RhpLsh.candidatePairsWide(
      RhpLsh.signatures(base.unionByName(dup), "vec_id", "embedding", nBits = 128),
      nBits = 128, bandBits = 16)
      .as[(Long, Long)].collect().toSet
    val wantPairs = narrow.keySet.map(k => (k, k + 5000))
    assert(wantPairs.forall(cands.contains),
      s"missing exact-dup candidates: ${(wantPairs -- cands).take(5)}")
  }

  test("duplicate cluster larger than the bucket cap still dedups fully (star-link degrade)") {
    import graft.sim.RhpLsh
    // 1 100 identical vectors — every band bucket exceeds the default
    // cap of 1 000. Pre-r6 the capped path DROPPED those buckets, so
    // exactly the heavy-duplicate cluster a production dedup targets
    // went un-deduped (ADVICE r5); now it degrades to star-links
    // against the bucket-min id and loses nothing.
    val one = Tables.embeddings(spark, sfDir)
      .where($"vec_id" === 0).select($"embedding")
    val cluster = spark.range(1100).crossJoin(one)
      .select($"id".as("vec_id"), $"embedding")
    val others = Tables.embeddings(spark, sfDir)
      .where($"vec_id" > 0 && $"vec_id" < 20)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
    val corpus = cluster.unionByName(others)
    val losers = RhpLsh.nearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9, nBits = 128, bandBits = 16) // default cap 1000
      .select($"b").distinct().as[Long].collect().toSet
    assert(losers == (1L until 1100L).toSet,
      s"cluster must collapse to vec_id 0: missing=${((1L until 1100L).toSet -- losers).take(5)} " +
        s"extra=${(losers -- (1L until 1100L).toSet).take(5)}")
  }

  test("chooseProdGeometry widens bands with corpus size") {
    import graft.sim.RhpLsh.chooseProdGeometry
    assert(chooseProdGeometry(200L) == (64, 8))     // single-word kernel
    assert(chooseProdGeometry(1000L) == (128, 16))  // the gate's corpus
    assert(chooseProdGeometry(10000L) == (128, 16)) // 10x replica
    assert(chooseProdGeometry(1000000000L) == (256, 32))
    assert(chooseProdGeometry(Long.MaxValue) == (256, 32)) // clamped
  }

  test("multimodal resize fits the box, preserves aspect, and never upscales") {
    import graft.multimodal.BinaryPipeline
    val docs = Tables.documents(spark, sfDir)
    val decoded = BinaryPipeline.decode(
      BinaryPipeline.withPayload(docs, "doc_id", "text"))
    val out = BinaryPipeline.resizePlan(decoded, maxW = 256, maxH = 144).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (ow, oh) = (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))
      assert(ow <= 256 && oh <= 144, s"box violated: ${w}x$h -> ${ow}x$oh")
      assert(ow <= w && oh <= h, "upscaled")
      if (ow > 8 && oh > 8) { // aspect drift only measurable above a few px
        val drift = math.abs(ow.toDouble / oh - w.toDouble / h) / (w.toDouble / h)
        assert(drift < 0.25, s"aspect drift $drift for ${w}x$h -> ${ow}x$oh")
      }
    }
  }

  test("frame sampling emits ceil(n_frames/step) frames per video, stride 5") {
    import graft.multimodal.BinaryPipeline
    val docs = Tables.documents(spark, sfDir)
    val decoded = BinaryPipeline.decode(
      BinaryPipeline.withPayload(docs, "doc_id", "text"))
    val expected = decoded
      .where($"media_type" === "video" && $"n_frames" > 0)
      .select($"doc_id", $"n_frames").as[(Long, Int)].collect().toMap
    val got = BinaryPipeline.sampleFrames(decoded, everyN = 5)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, nf) =>
      assert(got(id) == (nf + 4) / 5, s"doc $id: nf=$nf got=${got(id)}")
    }
  }

  // ---- Matryoshka × IVF ----

  test("matryoshka IVF with exhaustive probe equals the brute-force " +
      "prefix curve") {
    // nprobe = k probes every bucket, so the IVF stage-1 shortlist is
    // EXACTLY the brute-force prefix top-20 (same rounded score, same
    // id tie-break) and the recall curve must be identical
    val ivf = graft.queries.SimQueries
      .matryoshkaIvfRecall(spark, sfDir, prefixDims = 16, nprobe = 16)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    val brute = graft.queries.SimQueries
      .matryoshkaRecall(spark, sfDir, prefixDims = 16)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    assert(ivf.toSeq == brute.toSeq,
      s"ivf ${ivf.mkString(",")} != brute ${brute.mkString(",")}")
  }

  test("matryoshka IVF recall is sane and monotone at nprobe = 4") {
    val rows = graft.queries.SimQueries
      .matryoshkaIvfRecall(spark, sfDir, prefixDims = 16, nprobe = 4)
      .collect()
    val recalls = rows.sortBy(_.getInt(0)).map(_.getDouble(3))
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(recalls.sliding(2).forall(w => w(1) >= w(0) - 1e-12),
      s"recall not monotone in shortlist: ${recalls.mkString(",")}")
    rows.foreach(r => assert(r.getAs[Long]("n_queries") == 10L))
  }

  test("matryoshka IVF plan has no cartesian product") {
    val df = graft.queries.SimQueries
      .matryoshkaIvfRecall(spark, sfDir, prefixDims = 16, nprobe = 4)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }
}
