package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("scene-id parsing across the three grammars (R9)") {
    val df = Seq(
      "S2A_MSIL1C_20200110T132231_N0208_R038_T23LLF_20200110T145523",
      "LC08_L1TP_223064_20200110_20200120_02_T1",
      "MOD13Q1.A2020009.h13v10.006.2020026").toDF("sid")
    val got = df.select(
      SceneFunctions.sceneFamily(col("sid")).as("fam"),
      SceneFunctions.s2Tile(col("sid")).as("tile"),
      SceneFunctions.landsatPathRow(col("sid")).as("pr"),
      SceneFunctions.modisTile(col("sid")).as("mtile")).collect()
    assert(got(0).getString(0) == "S2" && got(0).getString(1) == "23LLF")
    assert(got(1).getString(0) == "LANDSAT" && got(1).getString(2) == "223064")
    assert(got(2).getString(0) == "MODIS" && got(2).getString(3) == "h13v10")
  }

  test("Sentinel-2 level and MODIS acquisition date (publish.py:411, hdf.py)") {
    val df = Seq(
      "S2A_MSIL1C_20200110T132231_N0208_R038_T23LLF_20200110T145523",
      "S2B_MSIL2A_20201231T132231_N0208_R038_T23LLF_20201231T145523",
      "MOD13Q1.A2020009.h13v10.006.2020026",
      "MYD13Q1.A2020366.h13v10.006.2021005",
      "MOD13Q1.A2021366.h13v10.006.2022005",
      "LC08_L1TP_223064_20200110_20200120_02_T1").toDF("sid")
    val got = df.select(SceneFunctions.s2Level(col("sid")),
        SceneFunctions.modisDate(col("sid")).cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // other grammars and day 366 of a common year are null, not a failure
    assert(got == Seq(("MSIL1C", null), ("MSIL2A", null), ("", "2020-01-09"),
      ("", "2020-12-31"), ("", null), ("", null)))
  }

  test("MODIS tile rewrite h13v10 ↔ 013010 (publish.py:306, controller.py:552)") {
    val df = Seq("h13v10").toDF("t")
    val six = df.select(SceneFunctions.modisTileTo6Digit(col("t"))).head().getString(0)
    assert(six == "013010")
    val back = Seq(six).toDF("c")
      .select(SceneFunctions.sixDigitToModisTile(col("c"))).head().getString(0)
    assert(back == "h13v10")
  }

  test("band/mime from asset path (publish.py:49–56, 263–270)") {
    val df = Seq("x/T23LLF_20200110T132231_B04_10m.jp2", "y/scene_B8A.tif", "z/q.png")
      .toDF("p")
    val got = df.select(SceneFunctions.bandFromPath(col("p")).as("b"),
      SceneFunctions.mimeByExtension(col("p")).as("m")).collect()
    assert(got(0).getString(0) == "B04" && got(0).getString(1) == "image/jp2")
    assert(got(1).getString(0) == "B8A" && got(1).getString(1).contains("geotiff"))
    assert(got(2).getString(1) == "image/png")
  }

  test("tokens/quality edge cases") {
    val df = Seq("", "   ", "one", "Two words.").toDF("t")
    val got = df.select(TextFunctions.tokenCount(col("t"))).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 1, 2))
  }

  test("jaccard on 2-shingles") {
    val df = Seq(("a b c d", "a b c e")).toDF("x", "y")
    val j = df.select(DedupFunctions.jaccard(col("x"), col("y"), 2)).head().getDouble(0)
    // shingles x: {ab,bc,cd}, y: {ab,bc,ce} → inter 2, union 4
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("simhash: near-dup texts are close, different texts far") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again today"),
      ("b", "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      ("c", "completely unrelated words describing satellite imagery pipelines")).toDF("id", "t")
    val h = df.select(col("id"), DedupFunctions.simhash64(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h("a"), h("b")) < ham(h("a"), h("c")))
    assert(ham(h("a"), h("b")) <= 16)
  }

  test("dedupExact keeps lowest id per text") {
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("doc_id", "text")
    val got = DedupFunctions.dedupExact(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("dedupExactKeepBest keeps the highest score, id breaks ties, payload intact") {
    val df = Seq(
      (1L, "same", 10L), (2L, "same", 30L), (3L, "same", 30L), // tie at 30 → id 3
      (4L, "other", 5L)).toDF("doc_id", "text", "q")
    val got = DedupFunctions.dedupExactKeepBest(df, "text", "doc_id", col("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((3L, "same", 30L), (4L, "other", 5L)))
    // score = -id degenerates to keep-first
    val first = DedupFunctions.dedupExactKeepBest(df, "text", "doc_id", -col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 4L))
    // a user column named __h (and __rn for dedupExact) must survive the
    // internal scratch columns untouched
    val clash = Seq((1L, "same", 10L, "keep-h", "keep-rn"),
      (2L, "same", 30L, "keep-h2", "keep-rn2"))
      .toDF("doc_id", "text", "q", "__h", "__rn")
    val kept = DedupFunctions.dedupExactKeepBest(clash, "text", "doc_id", col("q"))
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4)))
    assert(kept.toSeq === Seq((2L, "keep-h2", "keep-rn2")))
    val keptFirst = DedupFunctions.dedupExact(clash, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4)))
    assert(keptFirst.toSeq === Seq((1L, "keep-h", "keep-rn")))
  }

  test("lshCandidatePairs finds near-dups, misses unrelated") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pairs = DedupFunctions.lshCandidatePairs(df, "text", "doc_id", n = 2,
      bands = 4, rowsPerBand = 1)
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("lshParams: the S-curve inflection tracks the requested threshold") {
    // high threshold → more rows per band (sharper AND); low → more bands
    val (bHi, rHi) = DedupFunctions.lshParams(0.9, maxHashes = 16)
    val (bLo, rLo) = DedupFunctions.lshParams(0.4, maxHashes = 16)
    assert(rHi > rLo, s"higher threshold needs longer bands: r=$rHi vs r=$rLo")
    assert(bLo > bHi, s"lower threshold needs more bands: b=$bLo vs b=$bHi")
    for (t <- Seq(0.4, 0.6, 0.8, 0.9)) {
      val (b, r) = DedupFunctions.lshParams(t, maxHashes = 16)
      assert(b * r <= 16)
      val inflection = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(inflection - t) < 0.25,
        s"threshold $t → (b=$b,r=$r) inflection $inflection too far off")
      // the curve must actually separate: fire-probability gap across t
      def p(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, r), b)
      assert(p(math.min(0.99, t + 0.15)) > p(math.max(0.01, t - 0.15)) + 0.2)
    }
  }

  test("cosine top-k exact vs LSH recall") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(16)(rng.nextGaussian().toFloat)
    def perturb(eps: Double) = base.map(v => (v + rng.nextGaussian() * eps).toFloat)
    val rows = (0 until 50).map(i => (i.toLong, perturb(if (i < 5) 0.01 else 2.0)))
    val df = rows.toDF("vec_id", "embedding")
    val exact = SimilarityFunctions.topKCosine(df, "embedding", "vec_id", base, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(0L, 1L, 2L, 3L, 4L)) // the 5 tight perturbations
    val lsh = SimilarityFunctions.topKCosineLsh(df, "embedding", "vec_id", base, 5,
      bits = 4, seed = 42L).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.subsetOf(exact) || lsh.intersect(exact).size >= 3) // high recall on tight cluster
  }

  test("ivfSearch recalls the exact top-k when probing the right cells") {
    val rng = new scala.util.Random(13)
    // two clusters around +1 and -1 per dim
    val rows = (0 until 60).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array.fill(8)((base + rng.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val centroids = Array(Array.fill(8)(1.0), Array.fill(8)(-1.0))
    val query = Array.fill(8)(1.0f)
    val exact = SimilarityFunctions.topKCosine(df, "embedding", "vec_id", query, 5)
      .collect().map(_.getLong(0)).toSet
    val ivf1 = SimilarityFunctions.ivfSearch(df, "embedding", "vec_id",
      centroids, query, 5, nProbe = 1).collect().map(_.getLong(0)).toSet
    assert(ivf1 == exact) // the +1 cluster cell contains all true neighbours
    val ivf2 = SimilarityFunctions.ivfSearch(df, "embedding", "vec_id",
      centroids, query, 5, nProbe = 2).collect().map(_.getLong(0)).toSet
    assert(ivf2 == exact) // full probe = exact
    // precomputed assignment column path
    val pre = df.withColumn("cell", SimilarityFunctions.ivfAssign(col("embedding"), centroids))
    val ivfPre = SimilarityFunctions.ivfSearch(pre, "embedding", "vec_id",
      centroids, query, 5, nProbe = 1, assignedCol = Some("cell"))
      .collect().map(_.getLong(0)).toSet
    assert(ivfPre == exact)
  }

  test("persisted IVF index: partition-pruned probe matches the exact top-k") {
    val rng = new scala.util.Random(29)
    // four well-separated clusters so kmeansFit converges to one cell each
    val anchors = Seq(
      Array(1.0, 1.0, 0.0, 0.0), Array(-1.0, -1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 1.0), Array(0.0, 0.0, -1.0, -1.0))
    val rows = (0 until 120).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    SimilarityFunctions.writeIvfIndex(df, "embedding", "vec_id", dir,
      nCells = 4, iterations = 8)
    val query = Array(1.0f, 1.0f, 0.05f, -0.05f)

    val exact = SimilarityFunctions.topKCosine(df, "embedding", "vec_id", query, 5)
      .collect().map(_.getLong(0)).toSet
    val full = SimilarityFunctions.searchIvfIndex(spark, dir,
      "embedding", "vec_id", query, 5, nProbe = 4)
    assert(full.collect().map(_.getLong(0)).toSet == exact, "full probe == exact")

    val pruned = SimilarityFunctions.searchIvfIndex(spark, dir,
      "embedding", "vec_id", query, 5, nProbe = 1)
    assert(pruned.collect().map(_.getLong(0)).toSet == exact,
      "the query's own cluster cell holds every true neighbour")
    // the probe must PLAN as partition pruning: the cell predicate sits in
    // PartitionFilters and only 1 of the 4 cell directories is scanned
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec"))
    assert(scan.metadata("PartitionFilters").contains("cell"),
      s"cell IN (...) must be a partition filter: ${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"nProbe=1 must open exactly one cell directory, got ${scan.selectedPartitions.partitionCount}")
    // reopened centroids round-trip in cell order
    val cents = SimilarityFunctions.readIvfCentroids(spark, dir)
    assert(cents.length == 4 && cents.forall(_.length == 4))
  }

  test("appendToIvfIndex: appended vectors land in their cells and are searchable") {
    val rng = new scala.util.Random(31)
    val anchors = Seq(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0), Array(0.0, -1.0))
    def mk(ids: Range) = ids.map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(v => (v + rng.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString
    SimilarityFunctions.writeIvfIndex(mk(0 until 80), "embedding", "vec_id", dir,
      nCells = 4, iterations = 8)
    SimilarityFunctions.appendToIvfIndex(mk(80 until 120), dir, "embedding")
    val query = Array(1.0f, 0.0f)
    val got = SimilarityFunctions.searchIvfIndex(spark, dir,
      "embedding", "vec_id", query, 40, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    // the probed cell must now contain appended members (ids >= 80, ≡ 0 mod 4)
    assert(got.exists(_ >= 80L), s"appended vectors must be searchable, got $got")
    assert(got.forall(id => id % 4 == 0), s"single-probe hits stay in the query's cluster: $got")
  }

  test("PQ: native encode == HOF spec; ADC search recalls the exact top-k") {
    val rng = new scala.util.Random(37)
    val dim = 16
    // clustered, roughly unit-norm vectors so inner product ≈ cosine
    val anchors = Array.fill(6)(Array.fill(dim)(rng.nextGaussian()))
      .map { a => val n = math.sqrt(a.map(x => x * x).sum); a.map(x => (x / n).toFloat) }
    val rows = (0 until 300).map { i =>
      val a = anchors(i % 6)
      val v = a.map(x => x + rng.nextGaussian().toFloat * 0.08f)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = SimilarityFunctions.trainPq(df, "embedding", "vec_id",
      m = 4, k = 16, iterations = 6)
    assert(cb.subDim == 4 && cb.flat.length == 4 * 16 * 4)

    // native expression == composable spec, byte for byte
    val both = df.select(
      SimilarityFunctions.pqEncode(col("embedding"), cb).as("n"),
      SimilarityFunctions.pqEncodeHof(col("embedding"), cb).as("h"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Byte](0) == r.getSeq[Byte](1), "native and HOF codes must agree")
    }

    // ADC over 4 bytes/vector recalls the exact float top-k
    val codes = df.select(col("vec_id"),
      SimilarityFunctions.pqEncode(col("embedding"), cb).as("codes"))
    val query = rows.head._2
    val exact = SimilarityFunctions.topKCosine(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val adc = SimilarityFunctions.searchPq(codes, "codes", "vec_id", cb, query, 40)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(adc).size.toDouble / exact.size
    assert(recall >= 0.7, s"ADC top-40 must recall >= 70% of the exact top-10, got $recall")
  }

  test("IVF-PQ index: pruned probe + ADC short list + exact re-rank == exact top-k") {
    val rng = new scala.util.Random(47)
    val dim = 16
    val anchors = Array.fill(4)(Array.fill(dim)(rng.nextGaussian()))
      .map { a => val n = math.sqrt(a.map(x => x * x).sum); a.map(x => (x / n).toFloat) }
    val rows = (0 until 240).map { i =>
      val a = anchors(i % 4)
      val v = a.map(x => x + rng.nextGaussian().toFloat * 0.06f)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    SimilarityFunctions.writeIvfPqIndex(df, "embedding", "vec_id", dir,
      nCells = 4, m = 4, kPq = 16, iterations = 8)
    val query = rows.head._2
    val exact = SimilarityFunctions.topKCosine(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    // full probe: the exact re-rank makes the result EXACTLY the brute-force
    // top-k as long as it survives the ADC short list. Inside one tight
    // cluster the members share code vectors (ADC ties), so the over-fetch
    // must cover the tie set: 10x8 = 80 >= the 60-member cluster
    val full = SimilarityFunctions.searchIvfPq(spark, dir,
      "embedding", "vec_id", query, k = 10, nProbe = 4, overFetch = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full.toSet == exact.toSet, s"full probe + rerank must equal exact: $full vs $exact")
    // single probe: the query's own cluster holds every true neighbour
    val pruned = SimilarityFunctions.searchIvfPq(spark, dir,
      "embedding", "vec_id", query, k = 10, nProbe = 1, overFetch = 8)
      .collect().map(_.getLong(0)).toSet
    assert(pruned == exact.toSet)
    // and the scan only opens one cell directory
    val plan = SimilarityFunctions.searchIvfPq(spark, dir,
      "embedding", "vec_id", query, k = 10, nProbe = 1, overFetch = 8)
    plan.collect()
    val scan = plan.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec"))
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("ivfAssign puts identical vectors in the same cell") {
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.9f))).toDF("id", "emb")
    val got = df.select(col("id"), SimilarityFunctions.ivfAssign(col("emb"), centroids).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 0 && got(2L) == 1)
  }

  test("native minhash_signature matches the HOF specification on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val native = docs.select(col("doc_id"),
      DedupFunctions.minhashSignature(col("text"), 3, 4).as("sig"))
    val hof = docs.select(col("doc_id"),
      DedupFunctions.minhashSignatureHof(col("text"), 3, 4).as("sig"))
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
    // edge cases: empty text, fewer tokens than n
    val edge = Seq((1L, ""), (2L, "only two"), (3L, "   ")).toDF("doc_id", "text")
    val en = edge.select(DedupFunctions.minhashSignature(col("text"), 3, 2).as("s")).collect()
    val eh = edge.select(DedupFunctions.minhashSignatureHof(col("text"), 3, 2).as("s")).collect()
    assert(en.map(_.toString).toSeq == eh.map(_.toString).toSeq)
  }

  test("native word_ngrams matches array_distinct(shingles) HOF spec on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    for (n <- Seq(1, 3)) {
      val native = docs.select(col("doc_id"),
        graft.expr.NativeFunctions.word_ngrams(col("text"), n).as("sh"))
      val hof = docs.select(col("doc_id"),
        array_distinct(DedupFunctions.shingles(col("text"), n)).as("sh"))
      assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
    }
    val edge = Seq((1L, ""), (2L, "only two"), (3L, "   "), (4L, "a b a b a")).toDF("doc_id", "text")
    val en = edge.select(graft.expr.NativeFunctions.word_ngrams(col("text"), 2)).collect()
    val eh = edge.select(array_distinct(DedupFunctions.shingles(col("text"), 2))).collect()
    assert(en.map(_.toString).toSeq == eh.map(_.toString).toSeq)
  }

  test("neardupPairsLocal equals the self-join candidate+verify formulation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val local = DedupFunctions.neardupPairsLocal(docs, "text", "doc_id",
        n = 3, bands = 2, rowsPerBand = 2, jaccardThreshold = 0.0)
      .select("id_a", "id_b").distinct()
    val ids = docs.select(col("doc_id"), col("text"))
    val joined = DedupFunctions.lshCandidatePairs(docs, "text", "doc_id",
        n = 3, bands = 2, rowsPerBand = 2)
      .select("id_a", "id_b").distinct()
    assert(local.exceptAll(joined).count() == 0 && joined.exceptAll(local).count() == 0)
  }

  test("neardupPairsLocal routes oversized buckets through the join path losslessly") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // maxBucket=1 forces EVERY bucket through the self-join skew path;
    // results must be identical to the all-local formulation.
    val allJoin = DedupFunctions.neardupPairsLocal(docs, "text", "doc_id",
        n = 3, bands = 2, rowsPerBand = 2, jaccardThreshold = 0.0, maxBucket = 1)
      .select("id_a", "id_b", "jaccard")
    val allLocal = DedupFunctions.neardupPairsLocal(docs, "text", "doc_id",
        n = 3, bands = 2, rowsPerBand = 2, jaccardThreshold = 0.0, maxBucket = 1000000)
      .select("id_a", "id_b", "jaccard")
    assert(allJoin.exceptAll(allLocal).count() == 0 && allLocal.exceptAll(allJoin).count() == 0)
    assert(allJoin.count() > 0)
  }

  test("native quantize_int8 matches the HOF specification bit-for-bit") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val native = emb.select(SimilarityFunctions.quantizeInt8(col("embedding")).as("qs"))
      .select(col("qs.scale"), col("qs.q")).collect().map(_.toString).toSeq
    val hof = emb.select(SimilarityFunctions.quantizeInt8Hof(col("embedding")).as("qs"))
      .select(col("qs.scale").as("scale"), col("qs.q").as("q")).collect().map(_.toString).toSeq
    assert(native == hof, "quantize_int8 diverged from HOF spec")
  }

  test("property: word_ngrams and simhash_md5_16 match their HOF specs on random texts") {
    import org.scalacheck.Gen
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.oneOf("a", "über", "日本", "x-y", "§"))
    val sep = Gen.oneOf(" ", "  ", "\t", " \n ")
    // pads include non-space whitespace: SQL trim strips spaces ONLY, so
    // leading/trailing \t or \n must produce the same (empty) tokens in
    // the native expressions as in the HOF/oracle formulation
    val pad = Gen.oneOf("", " ", "  ", "\t", "\n", " \t", "\n ")
    val text = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(math.max(n - 1, 0), sep)
      p1 <- pad
      p2 <- pad
    } yield p1 + ws.zipAll(ss, "", "").map { case (w, s) => w + s }.mkString + p2
    val texts = Iterator.continually(text.sample).flatten.take(120).toSeq
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 3)) {
      val native = df.select(col("id"), graft.expr.NativeFunctions.word_ngrams(col("text"), n).as("v"))
      val hof = df.select(col("id"), array_distinct(DedupFunctions.shingles(col("text"), n)).as("v"))
      assert(native.collect().map(_.toString).toSeq == hof.collect().map(_.toString).toSeq,
        s"word_ngrams n=$n diverged from HOF spec")
    }
    val sNative = df.select(DedupFunctions.simhashMd5(col("text"))).collect().map(_.getLong(0)).toSeq
    val sHof = df.select(DedupFunctions.simhashMd5Hof(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(sNative == sHof, "simhash_md5_16 diverged from HOF spec")
    val mNative = df.select(DedupFunctions.minhashSignature(col("text"), 2, 2)).collect().map(_.toString).toSeq
    val mHof = df.select(DedupFunctions.minhashSignatureHof(col("text"), 2, 2)).collect().map(_.toString).toSeq
    assert(mNative == mHof, "minhash_signature diverged from HOF spec")
    val xNative = df.select(DedupFunctions.simhash64(col("text"))).collect().map(_.getLong(0)).toSeq
    val xHof = df.select(DedupFunctions.simhash64Hof(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(xNative == xHof, "simhash64 diverged from HOF spec")
  }

  test("int8 quantization: 4x smaller, bounded error, preserves top-k neighbors") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.select(col("vec_id"), col("embedding"),
      SimilarityFunctions.dequantizeInt8(
        SimilarityFunctions.quantizeInt8(col("embedding"))).as("deq"))
    // per-element error bounded by half a quantization step (scale/2)
    val maxErr = q.select(max(aggregate(
        zip_with(col("embedding"), col("deq"), (a, b) => abs(a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, v) => greatest(acc, v))).as("e")).head().getDouble(0)
    val maxScale = q.select(max(array_max(transform(col("embedding"),
      v => abs(v.cast("double")) / 127.0)))).head().getDouble(0)
    assert(maxErr <= maxScale * 0.5 + 1e-6, s"error $maxErr exceeds half-step $maxScale")
    // neighbor preservation: top-10 of a query over dequantized vectors
    // recalls >= 8 of the exact top-10
    val query = emb.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    val exact = SimilarityFunctions.topKCosine(emb, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val deqDf = q.select(col("vec_id"), col("deq").as("embedding"))
    val approx = SimilarityFunctions.topKCosine(deqDf, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect approx).size >= 8, s"recall too low: $exact vs $approx")
  }

  test("blocked all-pairs cosine equals the row-wise BNLJ formulation") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val blocked = SimilarityFunctions.allPairsCosineBlocked(emb, "embedding", "vec_id",
        threshold = -2.0, blockSize = 16) // -2 <= min cosine: keep every pair
      .select(col("id_a"), col("id_b"), round(col("cos"), 9).as("c"))
    val withN = emb.select(col("vec_id"), col("embedding"),
      SimilarityFunctions.norm(col("embedding")).as("nrm"))
    val a = withN.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = withN.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    val rowwise = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(SimilarityFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9).as("c"))
    assert(blocked.count() == rowwise.count())
    assert(blocked.exceptAll(rowwise).count() == 0 && rowwise.exceptAll(blocked).count() == 0)
  }

  test("native simhash_md5_16 matches the HOF specification on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val native = docs.select(col("doc_id"), DedupFunctions.simhashMd5(col("text")).as("h"))
    val hof = docs.select(col("doc_id"), DedupFunctions.simhashMd5Hof(col("text")).as("h"))
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
    val edge = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val en = edge.select(DedupFunctions.simhashMd5(col("text"))).collect().map(_.getLong(0)).toSeq
    val eh = edge.select(DedupFunctions.simhashMd5Hof(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(en == eh)
    assert(en.take(2) == Seq(0L, 0L), "empty text hashes to 0")
  }

  test("dedupNear collapses a near-dup cluster to its canonical doc") {
    val df = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 10
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  // exact dup of 10
      (20L, "one two three four five six seven eight nine ten"),
      (30L, "unrelated totally different words appear in this document here"))
      .toDF("doc_id", "text")
    val kept = DedupFunctions.dedupNear(df, "text", "doc_id",
      n = 2, bands = 4, rowsPerBand = 1, jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L) && !kept.contains(11L) && !kept.contains(12L))
    assert(kept.contains(20L) && kept.contains(30L))
  }

  test("dedupSemantic collapses embedding clusters; exact variant agrees when recall is 1") {
    // two tight cosine clusters + one singleton, dim 4; cluster members are
    // tiny perturbations of the same direction so every RHP hyperplane
    // assigns them the same sign → LSH recall 1 on this data
    def v(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 3) eps else 0f) }
    val cA = Array(1f, 2f, 3f, 4f)
    val cB = Array(-4f, 3f, -2f, 1f)
    val df = Seq(
      (1L, v(cA, 0f)), (2L, v(cA, 0.01f)), (3L, v(cA, -0.01f)),
      (10L, v(cB, 0f)), (11L, v(cB, 0.01f)),
      (99L, Array(4f, -3f, 2f, -1f)))
      .toDF("vec_id", "embedding")
    val kept = SimilarityFunctions.dedupSemantic(df, "embedding", "vec_id",
      dim = 4, threshold = 0.999, bits = 4, seed = 7L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L), s"canonical = min id per cluster, got $kept")
    val keptExact = SimilarityFunctions.dedupSemanticExact(df, "embedding", "vec_id",
      threshold = 0.999, blockSize = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptExact == kept, "exact pair source must agree when LSH misses nothing")
  }

  test("dedupNear drops >10k ids via a broadcast anti-join, not an In literal") {
    // 12k exact-dup pairs → 12k dropped ids. A literal `isin` of that many
    // ids would blow up plan size / codegen; the drop-set must reach the
    // plan as a broadcast left_anti join instead.
    val nPairs = 12000
    // vocabulary is fully disjoint across pairs — shared tokens would put
    // every doc in one LSH bucket and blow the candidate set up to n²
    val df = (0 until nPairs).flatMap { i =>
      val text = s"a$i b$i c$i d$i e$i f$i g$i h$i"
      Seq((2L * i, text), (2L * i + 1, text))
    }.toDF("doc_id", "text")
    val kept = DedupFunctions.dedupNear(df, "text", "doc_id",
      n = 2, bands = 4, rowsPerBand = 1, jaccardThreshold = 0.5)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join in plan:\n$plan")
    assert(!plan.contains("INSET") && !plan.toLowerCase.contains(" in ("),
      "drop-filter must not be an In/InSet literal")
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == nPairs, "one survivor per pair")
    assert((0 until nPairs).forall(i => ids.contains(2L * i)),
      "canonical (min-id) member of each pair survives")
  }

  test("connectedComponents labels chains, cycles, and singletons") {
    import spark.implicits._
    val vertices = (1L to 9L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 3L),           // chain 1-2-3
      (4L, 5L), (5L, 6L), (6L, 4L), // cycle 4-5-6
      (7L, 8L)                      // pair; 9 is a singleton
    ).toDF("src", "dst")
    val labels = GraphFunctions.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connectedComponents: pointer jumping resolves a 64-chain in default rounds; refuses to return non-converged labels") {
    import spark.implicits._
    val vertices = (0L until 64L).toDF("id")
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = GraphFunctions.connectedComponents(vertices, chain)
      .as[(Long, Long)].collect()
    assert(labels.forall(_._2 == 0L), "entire chain must collapse to label 0")
    intercept[IllegalArgumentException] {
      GraphFunctions.connectedComponents(vertices, chain, maxIterations = 1)
    }
  }

  test("componentLabels: driver fast path ≡ distributed propagation, singletons self-label") {
    import spark.implicits._
    val vertices = (1L to 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L))
      .toDF("src", "dst")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 7L, 9L -> 9L)
    val driver = GraphFunctions.componentLabels(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val distributed = GraphFunctions
      .componentLabels(vertices, edges, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver === expected)
    assert(distributed === expected)
  }

  test("union-find: componentLabels ≡ dropByPairGraph on both paths, edges at and over maxDriverEdges") {
    import spark.implicits._
    val vertices = (1L to 10L).toDF("id")
    val docs = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // duplicate, reversed, self-loop and chained edges; 4 and 10 touch none
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (2L, 5L),
      (6L, 7L), (7L, 6L), (9L, 8L))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 8L, 10L -> 10L)
    val e = edgeList.length
    for ((edges, want) <- Seq(edgeList -> expected,
        Seq.empty[(Long, Long)] -> (1L to 10L).map(i => i -> i).toMap);
         maxDriverEdges <- Seq(100_000, e, e - 1, 0)) {
      val clue = s"${edges.length} edges, maxDriverEdges=$maxDriverEdges"
      val labels = GraphFunctions.componentLabels(vertices, edges.toDF("src", "dst"),
        maxDriverEdges = maxDriverEdges)
      assert(labels.as[(Long, Long)].collect().toMap === want, clue)
      val kept = DedupFunctions.dropByPairGraph(docs, "doc_id",
        edges.toDF("id_a", "id_b"), maxDriverEdges = maxDriverEdges)
      assert(kept.as[(Long, String)].collect().toSet ===
        want.collect { case (id, root) if id == root => (id, s"doc$id") }.toSet, clue)
      if (edges.nonEmpty && edges.length <= maxDriverEdges) {
        // the driver path broadcasts its id map back into one join
        val lp = labels.queryExecution.executedPlan.toString
        assert(lp.contains("BroadcastHashJoin") && lp.contains("LeftOuter"), lp)
        val kp = kept.queryExecution.executedPlan.toString
        assert(kp.contains("BroadcastHashJoin") && kp.contains("LeftAnti"), kp)
      }
    }
  }

  test("pageRank: closed forms, dangling redistribution, conservation, reference equivalence") {
    import spark.implicits._
    // two-node cycle: symmetric → both ranks 0.5 at every iteration
    val cyc = GraphFunctions.pageRank((1L to 2L).toDF("id"),
        Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(cyc(1L) - 0.5) < 1e-12 && math.abs(cyc(2L) - 0.5) < 1e-12)
    // edgeless graph: dangling mass recycles uniformly → every rank 1/N
    val dang = GraphFunctions.pageRank((1L to 4L).toDF("id"),
        Seq.empty[(Long, Long)].toDF("src", "dst"), iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(dang.values.forall(r => math.abs(r - 0.25) < 1e-12))
    // star 2,3,4 → 1 (1 dangling): hub outranks leaves; total rank = 1
    val star = GraphFunctions.pageRank((1L to 4L).toDF("id"),
        Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst"), iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(star(1L) > star(2L) && star(2L) === star(3L))
    assert(math.abs(star.values.sum - 1.0) < 1e-9, "rank mass must be conserved")
    // pseudo-random 40-vertex multigraph vs an independent driver-side
    // reference (plain loops over maps)
    val n = 40
    val es = (0 until 120).map { i =>
      (((i * 31 + 7) % n).toLong, ((i * i * 17 + 3) % n).toLong)
    }.filter { case (a, b) => a != b }
    val got = GraphFunctions.pageRank((0L until n.toLong).toDF("id"),
        es.toDF("src", "dst"), iterations = 8)
      .as[(Long, Double)].collect().toMap
    val outdeg = es.groupBy(_._1).map { case (s, l) => (s, l.size) }
    var r = Map((0L until n.toLong).map(_ -> 1.0 / n): _*)
    for (_ <- 1 to 8) {
      val dangMass = r.collect { case (v, x) if !outdeg.contains(v) => x }.sum
      val in = es.groupBy(_._2).map { case (d, l) =>
        (d, l.map { case (s, _) => r(s) / outdeg(s) }.sum)
      }
      r = r.keys.map(v => v -> (0.15 / n + 0.85
        * (in.getOrElse(v, 0.0) + dangMass / n))).toMap
    }
    for (v <- r.keys)
      assert(math.abs(got(v) - r(v)) < 1e-9, s"vertex $v: ${got(v)} vs ${r(v)}")
  }

  test("pageRank ghost-vertex contract: loud throw by default, opt-in leak conserved nowhere") {
    import spark.implicits._
    val verts = (1L to 3L).toDF("id")
    val ghostEdges = Seq((1L, 2L), (2L, 9L)).toDF("src", "dst") // 9 unmodeled
    val e = intercept[IllegalArgumentException] {
      GraphFunctions.pageRank(verts, ghostEdges, iterations = 2)
    }
    assert(e.getMessage.contains("ghost") || e.getMessage.contains("absent"),
      s"message should name the contract: ${e.getMessage}")
    // opt-in: the documented subgraph semantics — rank flowing to 9 is
    // dropped, so total mass falls below 1 (that's the accepted leak)
    val leaked = GraphFunctions.pageRank(verts, ghostEdges,
        iterations = 4, allowGhostVertices = true)
      .as[(Long, Double)].collect().toMap
    assert(leaked.values.sum < 1.0 - 1e-6, "ghost dst must visibly leak mass")
    // a ghost SRC is equally a contract violation
    intercept[IllegalArgumentException] {
      GraphFunctions.pageRank(verts, Seq((9L, 1L)).toDF("src", "dst"))
    }
    // the clean graph is unaffected by the check
    val ok = GraphFunctions.pageRank(verts,
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(ok.values.sum - 1.0) < 1e-9)
    // a NULL endpoint (ANSI mode throws on malformed casts, but a null
    // src/dst flows through) is still a loud IllegalArgumentException
    // naming the contract, never an NPE from reading the sampled row
    val nullEdge = intercept[IllegalArgumentException] {
      GraphFunctions.pageRank(verts,
        Seq((Option.empty[Long], Option(1L))).toDF("src", "dst"),
        iterations = 2)
    }
    assert(nullEdge.getMessage.contains("absent"), nullEdge.getMessage)
    assert(nullEdge.getMessage.contains("null"), nullEdge.getMessage)
  }

  test("pageRank warm start: chained rounds identity, new-vertex default, unknown ids ignored") {
    import spark.implicits._
    val n = 30
    val verts = (0L until n.toLong).toDF("id")
    val edges = (0 until 90).map { i =>
      (((i * 31 + 7) % n).toLong, ((i * i * 17 + 3) % n).toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    // the contract: pageRank(init = pageRank(uniform, 5), 3) ≡ 8 rounds
    val full = GraphFunctions.pageRank(verts, edges, iterations = 8)
      .as[(Long, Double)].collect().toMap
    val warm5 = GraphFunctions.pageRank(verts, edges, iterations = 5)
    val chained = GraphFunctions.pageRank(verts, edges, iterations = 3,
        initialRanks = Some(warm5))
      .as[(Long, Double)].collect().toMap
    for (v <- full.keys)
      assert(math.abs(full(v) - chained(v)) < 1e-12, s"vertex $v")
    // grown graph: a vertex the prior vector never saw starts uniform;
    // prior rows for ids outside `vertices` are ignored — one round from
    // that init equals one round from the hand-built equivalent vector
    val grown = (0L to n.toLong).toDF("id") // vertex n is NEW
    val priorPlusJunk = warm5.unionByName(
      Seq((999L, 0.5)).toDF("id", "rank")) // 999 is not a vertex
    val viaOperator = GraphFunctions.pageRank(grown, edges, iterations = 1,
        initialRanks = Some(priorPlusJunk))
      .as[(Long, Double)].collect().toMap
    val handInit = warm5.unionByName(
      Seq((n.toLong, 1.0 / (n + 1))).toDF("id", "rank"))
    val viaHandInit = GraphFunctions.pageRank(grown, edges, iterations = 1,
        initialRanks = Some(handInit))
      .as[(Long, Double)].collect().toMap
    for (v <- viaHandInit.keys)
      assert(math.abs(viaOperator(v) - viaHandInit(v)) < 1e-15, s"vertex $v")
  }

  test("pageRank: driver fast path ≡ distributed loop (fixed rounds, warm chaining, tolerance)") {
    import spark.implicits._
    // maxDriverEdges = 0 forces the distributed loop; the default takes
    // the driver fast path on this small graph — same answers required
    val n = 40
    val verts = (0L until n.toLong).toDF("id")
    val edges = (0 until 120).map { i =>
      (((i * 31 + 7) % n).toLong, ((i * i * 17 + 3) % n).toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val fast = GraphFunctions.pageRank(verts, edges, iterations = 8)
      .as[(Long, Double)].collect().toMap
    val dist = GraphFunctions.pageRank(verts, edges, iterations = 8,
        maxDriverEdges = 0)
      .as[(Long, Double)].collect().toMap
    for (v <- dist.keys)
      assert(math.abs(fast(v) - dist(v)) < 1e-12, s"vertex $v")
    // warm chaining CROSSES the paths: a driver-path round-5 vector feeds
    // the distributed loop's init merge and must land on the 8-round point
    val warm5 = GraphFunctions.pageRank(verts, edges, iterations = 5)
    val chained = GraphFunctions.pageRank(verts, edges, iterations = 3,
        initialRanks = Some(warm5), maxDriverEdges = 0)
      .as[(Long, Double)].collect().toMap
    for (v <- dist.keys)
      assert(math.abs(chained(v) - dist(v)) < 1e-12, s"chained vertex $v")
    // tolerance early-exit on the distributed loop (the driver path is
    // covered by the tolerance tests below): both converge to the same
    // fixed point within tolerance
    val tol = 1e-9
    val (fastTolDf, fastRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 60, damping = 0.5, tolerance = Some(tol))
    val (distTolDf, distRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 60, damping = 0.5, tolerance = Some(tol),
      maxDriverEdges = 0)
    assert(fastRounds < 60 && distRounds < 60)
    val ft = fastTolDf.as[(Long, Double)].collect().toMap
    val dt = distTolDf.as[(Long, Double)].collect().toMap
    val l1 = dt.keys.map(v => math.abs(dt(v) - ft(v))).sum
    assert(l1 < tol * 4, f"paths drifted $l1%.2e apart at the stop")
  }

  test("pageRank tolerance: early exit lands within tolerance, warm start converges in fewer rounds") {
    import spark.implicits._
    val n = 30
    val verts = (0L until n.toLong).toDF("id")
    val edges = (0 until 90).map { i =>
      (((i * 31 + 7) % n).toLong, ((i * i * 17 + 3) % n).toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    // damping 0.5 so the geometric tail is short enough to watch inside
    // a test budget (at the 0.85 default, 1e-6 takes ~80 rounds — the
    // mechanics under test are damping-independent)
    val tol = 1e-9
    val (convergedDf, coldRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 60, damping = 0.5, tolerance = Some(tol))
    val converged = convergedDf.as[(Long, Double)].collect().toMap
    assert(coldRounds < 45, s"a contraction at rate 0.5 must exit well under the budget, took $coldRounds")
    // the early-exit result is within tolerance of where more rounds land:
    // the L1 distance to a deep fixed-round run is bounded by the
    // stopping delta times damping / (1 − damping) = tol here
    val deep = GraphFunctions.pageRank(verts, edges, iterations = 100,
        damping = 0.5)
      .as[(Long, Double)].collect().toMap
    val l1 = deep.keys.map(v => math.abs(deep(v) - converged(v))).sum
    assert(l1 < tol * 2, f"early-exit drifted $l1%.2e from the fixed point")
    // warm start from the converged vector: re-converges in FEWER rounds
    // than cold uniform (the q205 payoff, now observable)
    val (_, warmRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 60, damping = 0.5, tolerance = Some(tol),
      initialRanks = Some(convergedDf))
    assert(warmRounds < coldRounds,
      s"warm start took $warmRounds rounds vs cold $coldRounds")
    // no tolerance → the fixed-round oracle twin, bit-identical to pageRank
    val (fixedDf, fixedRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 8)
    assert(fixedRounds === 8)
    val fixed = fixedDf.as[(Long, Double)].collect().toMap
    val plain = GraphFunctions.pageRank(verts, edges, iterations = 8)
      .as[(Long, Double)].collect().toMap
    for (v <- plain.keys) assert(fixed(v) === plain(v), s"vertex $v")
    // budget exhaustion: tolerance set but unreachable in the budget —
    // the loop runs exactly `iterations` rounds and returns that count
    val (_, capped) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 3, tolerance = Some(1e-18))
    assert(capped === 3)
  }

  test("pageRank tolerance: grown-graph warm start beats cold (init renormalized)") {
    import spark.implicits._
    // the incremental-crawl regime: converge on a 27-vertex subgraph,
    // then re-rank the 30-vertex grown graph from that vector. The
    // merged init sums to ~1.1 (3 new vertices at 1/30), and WITHOUT
    // renormalization that mass excess decays at exactly rate d=0.85 —
    // ~60 rounds to push its (1−d)·ε₀·d^(t−1) L1-delta floor under
    // 1e-6, vs ~20 cold (spectral rate ≪ d on this graph). With the
    // tolerance-path renormalization, warm must beat cold outright.
    val n = 30
    val verts = (0L until n.toLong).toDF("id")
    val edges = (0 until 120).map { i =>
      (((i * 31 + 7) % n).toLong, ((i * i * 17 + 3) % n).toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val oldN = 27L
    val oldVerts = verts.filter($"id" < oldN)
    val oldEdges = edges.filter($"src" < oldN && $"dst" < oldN)
    val tol = 1e-6
    val (prev, _) = GraphFunctions.pageRankWithRounds(
      oldVerts, oldEdges, iterations = 150, tolerance = Some(tol))
    val (_, coldRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 150, tolerance = Some(tol))
    val (warmDf, warmRounds) = GraphFunctions.pageRankWithRounds(
      verts, edges, iterations = 150, tolerance = Some(tol),
      initialRanks = Some(prev))
    assert(warmRounds < coldRounds,
      s"grown-graph warm start took $warmRounds rounds vs cold $coldRounds — " +
        "the un-renormalized mass excess is leaking into the L1-delta stop")
    // and the warm answer still lands at the same fixed point
    val deep = GraphFunctions.pageRank(verts, edges, iterations = 200)
      .as[(Long, Double)].collect().toMap
    val warm = warmDf.as[(Long, Double)].collect().toMap
    val l1 = deep.keys.map(v => math.abs(deep(v) - warm(v))).sum
    assert(l1 < tol * 10, f"warm early-exit drifted $l1%.2e from the fixed point")
  }

  test("densifyIds: vid = 0-based rank in id order, distributed, no clobber") {
    import spark.implicits._
    // scrambled, non-contiguous id space with payload columns riding along
    val ids = Seq(907L, 3L, 500L, 42L, 7000L, 0L, 61L, 999999L)
    val df = scala.util.Random.shuffle(ids)
      .map(i => (i, s"p$i")).toDF("doc_id", "payload")
    val got = GraphFunctions.densifyIds(df, "doc_id")
      .select(col("doc_id"), col("payload"), col("vid"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val expected = ids.sorted.zipWithIndex
      .map { case (id, i) => (id, s"p$id", i.toLong) }
    assert(got.toSeq === expected)
    // the whole point: the assignment is NOT a single-partition sort —
    // the range partitioning spreads the rows. AQE legitimately coalesces
    // a KB-sized test shuffle to one partition (advisory, size-based),
    // so pin coalescing off to observe the shape itself: unlike
    // row_number over a global window, nothing here REQUIRES one task.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val big = spark.range(0, 4000).select((col("id") * 7).as("doc_id"))
      val dense = GraphFunctions.densifyIds(big, "doc_id")
      assert(dense.rdd.getNumPartitions > 1,
        "densifyIds must range-partition, not serialize on one task")
      val sample = dense.filter(col("doc_id") === 21 * 7)
        .select(col("vid")).as[Long].head()
      assert(sample === 21L)
    } finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    // contract: refuses to clobber an existing output column
    intercept[IllegalArgumentException] {
      GraphFunctions.densifyIds(df.withColumn("vid", lit(1)), "doc_id")
    }
    // empty input stays empty, schema carries the new column
    val empty = GraphFunctions.densifyIds(df.limit(0), "doc_id", "rank_id")
    assert(empty.columns.toSeq === Seq("doc_id", "payload", "rank_id"))
    assert(empty.count() === 0)
  }

  test("resolveRedirects: chains settle, loops exhaust the budget, passthroughs stay put") {
    import spark.implicits._
    val urls = Seq("a", "b", "c", "x", "loop1", "loop2", "solo")
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val red = Seq(("a", "b"), ("b", "c"), ("c", "x"),
      ("loop1", "loop2"), ("loop2", "loop1")).toDF("src", "dst")
    val got = CrawlFunctions.resolveRedirects(urls, red, "url")
      .collect().map(r => r.getString(1) ->
        (r.getString(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(got("a") === (("x", 3, true)))
    assert(got("b") === (("x", 2, true)))
    assert(got("x") === (("x", 0, true)))
    assert(got("solo") === (("solo", 0, true)))
    // the 2-cycle burns all 8 hops and lands back where parity says
    assert(got("loop1") === (("loop1", 8, false)))
    assert(got("loop2") === (("loop2", 8, false)))
    // a tight budget cuts a real chain non-terminally
    val cut = CrawlFunctions.resolveRedirects(urls, red, "url", maxHops = 1)
      .collect().map(r => r.getString(1) ->
        (r.getString(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(cut("a") === (("b", 1, false)))
    assert(cut("c") === (("x", 1, true)))
    // a frontier that carries its own __cur column can't break the hop
    // join (working names are tempCol-generated), and output-name
    // collisions fail loud instead of silently clobbering
    val withCur = urls.withColumn("__cur", lit("junk"))
    val gotCur = CrawlFunctions.resolveRedirects(withCur, red, "url")
      .collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(gotCur("a") === "x")
    intercept[IllegalArgumentException] {
      CrawlFunctions.resolveRedirects(
        urls.withColumn("final_url", lit("x")), red, "url")
    }
  }

  test("dedupNear distributed label-propagation branch matches the driver union-find") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def run(maxDriverEdges: Int) =
      DedupFunctions.dedupNear(docs, "text", "doc_id",
          n = 3, bands = 1, rowsPerBand = 2, jaccardThreshold = 0.8,
          maxDriverEdges = maxDriverEdges)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val driverPath = run(maxDriverEdges = 10_000_000)
    val distributedPath = run(maxDriverEdges = 0) // forces label propagation
    assert(driverPath === distributedPath)
    assert(driverPath.size < docs.count(), "fixture contains near-dups to drop")
  }

  test("native simhash64 matches the HOF specification on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val nat = docs.select(col("doc_id"), DedupFunctions.simhash64(col("text")).as("h"))
    val hof = docs.select(col("doc_id"), DedupFunctions.simhash64Hof(col("text")).as("h"))
    assert(nat.exceptAll(hof).count() == 0 && hof.exceptAll(nat).count() == 0)
    val edge = Seq((1L, ""), (2L, "  "), (3L, "one")).toDF("doc_id", "text")
    val en = edge.select(DedupFunctions.simhash64(col("text"))).collect().map(_.getLong(0)).toSeq
    val eh = edge.select(DedupFunctions.simhash64Hof(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(en == eh)
  }

  test("native dot_product matches the HOF specification bit-for-bit") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(200)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val qd = lit(q.map(_.toDouble).toArray)
    val native = emb.select(col("vec_id"), SimilarityFunctions.dot(col("embedding"), qd).as("d"))
    val hof = emb.select(col("vec_id"), SimilarityFunctions.dotHof(col("embedding"), qd).as("d"))
    assert(native.exceptAll(hof).count() == 0 && hof.exceptAll(native).count() == 0)
    // double×double inputs too
    val dd = emb.select(SimilarityFunctions.dot(qd, qd).as("d")).head().getDouble(0)
    assert(math.abs(dd - q.map(v => v.toDouble * v).sum) < 1e-9)
  }

  test("langIdHeuristic marker scoring") {
    val markers = Map("en" -> Seq("the", "of"), "fr" -> Seq("le", "la"))
    val df = Seq("the cat of the house", "le chat dans la maison", "xyzzy").toDF("t")
    val got = df.select(TextFunctions.langIdHeuristic(col("t"), markers)).collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("en", "fr", "und"))
  }

  test("jaccardEstimateFromSignatures: agreement fraction, null on shape mismatch, tracks exact") {
    val df = Seq(
      (Seq("h1", "h2", "h3", "h4"), Seq("h1", "h2", "x", "y")), // 2/4 agree
      (Seq("h1"), Seq("h1", "h2")),                             // length mismatch
      (Seq.empty[String], Seq.empty[String]))                   // empty
      .toDF("a", "b")
    val got = df.select(DedupFunctions.jaccardEstimateFromSignatures($"a", $"b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got === Seq(Some(0.5), None, None))
    // on real docs the k=8 estimate correlates with exact Jaccard: identical
    // docs estimate 1.0, disjoint docs estimate 0.0
    val docs = Seq(
      ("alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon"),
      ("alpha beta gamma delta epsilon", "one two three four five six"))
      .toDF("ta", "tb")
    val est = docs.select(DedupFunctions.jaccardEstimateFromSignatures(
        DedupFunctions.minhashSignature($"ta", 2, 8),
        DedupFunctions.minhashSignature($"tb", 2, 8)))
      .collect().map(_.getDouble(0)).toSeq
    assert(est === Seq(1.0, 0.0))
  }

  test("neardupPairsBySignature recalls the exact-path duplicates without shipping shingles") {
    // real corpus plus planted exact duplicates (ids offset by 100000)
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val docs = base.unionByName(
      base.limit(50).withColumn("doc_id", col("doc_id") + 100000L))
    val exact = DedupFunctions.neardupPairsLocal(docs, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 2, jaccardThreshold = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sig = DedupFunctions.neardupPairsBySignature(docs, "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 2, estThreshold = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical shingle sets → identical signatures: estimate 1.0 is exact
    assert(exact.subsetOf(sig), "signature path must recall every exact duplicate")
    assert(exact.size >= 50, "planted duplicates must be found")
  }

  test("crossNeardupPairs finds near-dups across corpora, never within one") {
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 10, same side
      (20L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 10/12
      (200L, "totally unrelated evaluation document with distinct words here"))
      .toDF("doc_id", "text")
    val pairs = DedupFunctions.crossNeardupPairs(train, eval_, "text",
        "doc_id", "doc_id", n = 2, bands = 4, rowsPerBand = 1,
        jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 100L), (12L, 100L)),
      "cross pairs only — the same-side 10~12 exact dup must not appear")
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x y alpha beta gamma delta epsilon z"), // contains the 5-gram → dropped
      (2L, "alpha beta gamma delta other words here"), // only a 4-gram overlap → kept
      (3L, "completely unrelated text with many distinct words"),
      (4L, "short doc")) // too short for any 5-gram → kept
      .toDF("doc_id", "text")
    val kept = DedupFunctions.decontaminate(corpus, bench, "text", "doc_id", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("decontaminateBloom == decontaminate on real documents (false positives verified away)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bench = docs.filter($"doc_id" % 7 === 0).limit(40)
    val corpus = docs.limit(400)
    val exact = DedupFunctions.decontaminate(corpus, bench, "text", "doc_id", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // tiny filter (high fpp regime) still agrees: Bloom can only FLAG
    // extra docs and the exact verify discards them
    for (expected <- Seq(1000L, 50L)) {
      val bloom = DedupFunctions.decontaminateBloom(corpus, bench, "text", "doc_id",
          n = 5, fpp = 0.05, expectedGrams = expected)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"expectedGrams=$expected must match the exact path")
    }
    assert(exact.nonEmpty && exact.size < 400, "the case must actually drop something")
  }

  test("decontaminateBloom: empty benchmark returns the corpus unchanged; session caps raised only inside the build") {
    val corpus = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // an empty gram set used to feed a null bloom blob into lit() and fail;
    // now it short-circuits: nothing can be contaminated
    val kept = DedupFunctions.decontaminateBloom(corpus, emptyBench, "text", "doc_id", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
    // a sizing above the default 4M-item / 67M-bit caps is honored (the
    // confs are raised around the BloomFilterAggregate so it doesn't
    // silently clamp) but must NOT leak into the session afterwards: the
    // same caps govern Catalyst's runtime bloom joins for unrelated queries
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // start from a known state — the session is shared across suites
    spark.conf.unset(itemsConf); spark.conf.unset(bitsConf)
    // getOption on a REGISTERED SQL conf yields the session default, so the
    // observable restore contract is value equality, not unset-ness
    val itemsBefore = spark.conf.get(itemsConf)
    val bitsBefore = spark.conf.get(bitsConf)
    // the raise itself, observed from inside the raised scope...
    val seenInside = DedupFunctions.withRaisedBloomCaps(spark, 50000000L, 500000000L) {
      (spark.conf.get(itemsConf).toLong, spark.conf.get(bitsConf).toLong)
    }
    assert(seenInside._1 >= 50000000L && seenInside._2 >= 500000000L,
      "caps must actually be raised while the bloom build runs")
    // ...and the restore, for both the default and the explicitly-set case
    assert(spark.conf.get(itemsConf) === itemsBefore &&
      spark.conf.get(bitsConf) === bitsBefore,
      "caps restored to their pre-call values")
    spark.conf.set(itemsConf, "5000000")
    try {
      DedupFunctions.withRaisedBloomCaps(spark, 50000000L, 500000000L) { () }
      assert(spark.conf.get(itemsConf) === "5000000",
        "a previously-set cap is restored to its explicit value")
    } finally spark.conf.unset(itemsConf)
    val bench = Seq((7L, "a b c d e f g")).toDF("doc_id", "text")
    val survivors = DedupFunctions.decontaminateBloom(corpus, bench, "text", "doc_id",
      n = 3, fpp = 0.01, expectedGrams = 50000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(2L), "doc 1 shares grams with the benchmark and is dropped")
    assert(spark.conf.get(itemsConf) === itemsBefore &&
      spark.conf.get(bitsConf) === bitsBefore,
      "decontaminateBloom leaves the session caps at their pre-call values")
  }

  test("capPerGroup keeps at most N per group, deterministically under repartitioning") {
    val df = (1L to 100L).map(i => (if (i <= 90) "big" else "small", i))
      .toDF("source", "doc_id")
    def run(d: org.apache.spark.sql.DataFrame) =
      SamplingFunctions.capPerGroup(d, col("source"), col("doc_id"), 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val kept = run(df)
    assert(kept.count(_._1 == "big") == 10, "hot group capped at 10")
    assert(kept.count(_._1 == "small") == 10, "small group kept whole")
    assert(run(df.repartition(7, col("doc_id"))) === kept,
      "membership is a pure function of content, not partitioning")
    // a caller's own __rn column must survive the cap (the rank now runs
    // under a collision-free tempCol, not a hardcoded name)
    val withRn = df.withColumn("__rn", col("doc_id") * 100)
    val keptRn = SamplingFunctions
      .capPerGroup(withRn, col("source"), col("doc_id"), 10)
    assert(keptRn.columns.toSeq === Seq("source", "doc_id", "__rn"))
    assert(keptRn.filter(col("__rn") =!= col("doc_id") * 100).count() === 0,
      "caller's __rn values must pass through untouched")
  }

  test("dedupSpans drops repeated spans keep-first and reassembles documents") {
    val df = Seq(
      (1L, "a b c d e f"),   // spans (K=3): "a b c", "d e f"
      (2L, "a b c x y z"),   // "a b c" already seen in doc 1 → only "x y z" survives
      (3L, "d e f"),         // entirely a duplicate of doc 1's second span → doc vanishes
      (4L, "g h"))           // short doc, one partial span, unique
      .toDF("doc_id", "text")
    val got = DedupFunctions.dedupSpans(df, "text", "doc_id", spanTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "a b c d e f", 2L -> "x y z", 4L -> "g h"))
  }

  test("knnJoin matches the window row_number formulation; partial-aggregates before the shuffle") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (queries, corpus) = (emb.filter(col("vec_id") < 3), emb.filter(col("vec_id") >= 3))
    val got = SimilarityFunctions.knnJoin(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding", k = 7)
    // reference: score everything, window top-k
    val scored = corpus.crossJoin(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("qe")))
      .select(col("q_id"), col("vec_id").as("c_id"),
        SimilarityFunctions.cosine(col("embedding"), col("qe")).as("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id").asc)
    val ref = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).drop("rn")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    assert(got.count() == 3 * 7)
    // the scale property: the top-k buffer itself partial-aggregates
    // map-side (not merely some unrelated partial_count elsewhere)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected object/sort aggregate for the bounded top-k buffer, got:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"),
      s"expected a partial bounded-top-k phase before the exchange, got:\n$plan")
  }

  test("outlierScore ranks a planted off-distribution vector highest") {
    val centroids = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val df = Seq(
      (1L, Array(0.1f, -0.1f)),   // near centroid 0
      (2L, Array(0.9f, 1.1f)),    // near centroid 1
      (3L, Array(10f, -10f)))     // far from both
      .toDF("vec_id", "embedding")
    val top = df.select($"vec_id",
        SimilarityFunctions.outlierScore($"embedding", centroids).as("d"))
      .orderBy($"d".desc).select("vec_id").as[Long].head()
    assert(top === 3L)
    intercept[IllegalArgumentException](
      SimilarityFunctions.outlierScore($"embedding", Array.empty))
  }

  test("knnJoin drops NaN-scored corpus rows instead of ranking them best") {
    // a NaN component makes cosine NaN for that corpus row; pre-r13 the
    // aggregator ranked it LARGEST (Spark sort order), i.e. a corrupt
    // embedding became every query's top neighbour — the native aggregate
    // skips NaN scores (undefined, not extreme), same as topKPerDoc
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(Float.NaN, 1f)), (13L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val got = SimilarityFunctions.knnJoin(queries, corpus,
        "vec_id", "embedding", "vec_id", "embedding", k = 2)
      .select("c_id").as[Long].collect().toSet
    assert(got === Set(10L, 11L))
  }

  test("boilerplateHits counts per-doc top-K n-gram occurrences") {
    val df = Seq(
      (1L, "cookie banner text cookie banner text unique one"),
      (2L, "cookie banner text and some other words"),
      (3L, "totally different content nothing shared at all"))
      .toDF("doc_id", "text")
    // with topK=1 the single most frequent 3-gram is "cookie banner text"
    // (df=2; distinct-per-doc so doc 1's repeat doesn't inflate its count)
    val hits = TextFunctions.boilerplateHits(df, "text", "doc_id", n = 3, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits === Map(1L -> 1L, 2L -> 1L))
  }

  test("native window_digests == HOF twin byte-for-byte; edge cases") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (90001L, ""), (90002L, "   "), (90003L, "one two"),
        (90004L, "a  b\tc   d e f g h i"), // multi-space + tab runs
        (90005L, "x " * 7 + "x")).toDF("doc_id", "text"))
    for (l <- Seq(2, 8)) {
      val native = docs.select($"doc_id",
        graft.expr.NativeFunctions.window_digests($"text", l).as("w"))
      val hof = docs.select($"doc_id",
        DedupFunctions.repeatedSpanDigestsHof($"text", l).as("w"))
      val n = native.collect().map(r => r.getLong(0) ->
        r.getSeq[Array[Byte]](1).map(_.toSeq)).toMap
      val h = hof.collect().map(r => r.getLong(0) ->
        r.getSeq[Array[Byte]](1).map(_.toSeq)).toMap
      assert(n === h, s"L=$l: native digests must equal the HOF spec")
      assert(n(90001L).isEmpty && n(90002L).isEmpty,
        "empty/whitespace texts yield no windows")
      if (l == 8) assert(n(90003L).isEmpty, "texts shorter than L yield none")
      else assert(n(90003L).size === 1)
    }
  }

  test("collocationsPmi: hand-computed PMI, minCount floor, frequency-rank contrast") {
    // "new york" is a fixed phrase (always adjacent); "of the" is frequent
    // but both words are everywhere, so PMI must rank the phrase first
    // even though "of the" has the higher raw count
    val docs = Seq(
      "new york of the state of the union",
      "new york of the city of the night",
      "new york of the harbor of the east",
      "maps of new york of the region").toDF("text")
    val out = TextFunctions.collocationsPmi(docs, "text", minCount = 2, topK = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    val byPair = out.toMap
    // hand replication of the formula for ("new","york"):
    // cab=4, B=total bigrams, ca=c("new")=4, cb=c("york")=4, U=total tokens
    val toksAll = docs.as[String].collect()
      .flatMap(_.trim.toLowerCase.split("\\s+"))
    val u = toksAll.length.toDouble
    val bigramsAll = docs.as[String].collect().flatMap { t =>
      val w = t.trim.toLowerCase.split("\\s+"); w.init.zip(w.tail)
    }
    val bTot = bigramsAll.length.toDouble
    def handPmi(wa: String, wb: String): Double = {
      val cab = bigramsAll.count(p => p._1 == wa && p._2 == wb).toDouble
      val ca = toksAll.count(_ == wa).toDouble
      val cb = toksAll.count(_ == wb).toDouble
      math.log((cab / bTot) / ((ca / u) * (cb / u)))
    }
    assert(math.abs(byPair(("new", "york"))._2 - handPmi("new", "york")) < 1e-9)
    assert(math.abs(byPair(("of", "the"))._2 - handPmi("of", "the")) < 1e-9)
    // the phrase outranks the frequent-but-unassociated pair
    assert(byPair(("new", "york"))._2 > byPair(("of", "the"))._2)
    assert(byPair(("of", "the"))._1 > byPair(("new", "york"))._1,
      "raw frequency must rank them the other way — that's the point")
    // minCount floor: singleton bigrams are absent
    assert(out.forall(_._2._1 >= 2))
  }

  test("ngramOverlap: clipped counts match hand-computed BLEU/ROUGE cores") {
    // the classic clipping example: candidate repeats "the" 7 times,
    // reference has it twice -> clipped unigram matches = 2
    val df = Seq(
      ("the the the the the the the", "the cat is on the mat"),
      ("the cat the cat", "the cat sat"),
      ("a b c d", "a b c d"),
      ("x", "totally different words here")).toDF("cand", "ref")
    val got = df.select(
        TextFunctions.ngramOverlap(col("cand"), col("ref"), 1).as("o1"),
        TextFunctions.ngramOverlap(col("cand"), col("ref"), 2).as("o2"))
      .select(col("o1.matches"), col("o1.cand_n"), col("o1.ref_n"),
        col("o2.matches"), col("o2.cand_n"), col("o2.ref_n"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).toSeq
    assert(got(0) === ((2, 7, 6, 0, 6, 5)))        // "the the" never in ref
    // unigrams: cand has the×2 cat×2, ref the×1 cat×1 -> clipped 1+1 = 2;
    // bigrams of "the cat the cat": [the cat, cat the, the cat];
    // ref has "the cat" once -> clipped 1
    assert(got(1) === ((2, 4, 3, 1, 3, 2)))
    assert(got(2) === ((4, 4, 4, 3, 3, 3)))        // identical -> all match
    assert(got(3) === ((0, 1, 4, 0, 0, 3)))        // no overlap; 1-token cand has no bigrams
  }

  test("bleu: perfect match scores 1, disjoint scores 0, brevity penalizes") {
    val df = Seq(
      ("a b c d e", "a b c d e"),
      ("q w e r t", "a b c d e"),
      ("a b c d", "a b c d e f g h")).toDF("cand", "ref")
    val got = df.select(round(TextFunctions.bleu(col("cand"), col("ref"), 2), 6))
      .collect().map(_.getDouble(0)).toSeq
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
    // 4/4 unigrams, 3/3 bigrams, BP = exp(1 - 8/4) = e^-1
    assert(math.abs(got(2) - math.exp(-1.0)) < 1e-6)
  }

  test("lcs_tokens: hand cases + 80-case sweep vs independent memoized LCS") {
    val df = Seq(
      ("a b c d e", "a x c y e"),     // a c e
      ("the cat sat", "the cat sat"),
      ("a a b a", "b a a a"),         // a a a
      ("x y z", "p q r"),
      ("", "a b")).toDF("cand", "ref")
    val got = df.select(graft.expr.NativeFunctions.lcs_tokens(col("cand"), col("ref")))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(3, 3, 3, 0, 0))
    // independent oracle: top-down MEMOIZED recursion (different algorithm
    // from the expression's bottom-up rolled-row DP)
    def lcsRef(a: Array[String], b: Array[String]): Int = {
      val memo = collection.mutable.Map.empty[(Int, Int), Int]
      def go(i: Int, j: Int): Int =
        if (i == a.length || j == b.length) 0
        else memo.getOrElseUpdate((i, j),
          if (a(i) == b(j)) 1 + go(i + 1, j + 1)
          else math.max(go(i + 1, j), go(i, j + 1)))
      go(0, 0)
    }
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "ab", "xy")
    val cases = Seq.fill(80) {
      def sent() = Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (sent(), sent())
    }
    val out = cases.toDF("cand", "ref")
      .select(col("cand"), col("ref"),
        graft.expr.NativeFunctions.lcs_tokens(col("cand"), col("ref")))
      .collect()
    out.foreach { r =>
      def tk(s: String) = s.trim.split("\\s+").filter(_.nonEmpty)
      assert(r.getInt(2) === lcsRef(tk(r.getString(0)), tk(r.getString(1))),
        s"'${r.getString(0)}' vs '${r.getString(1)}'")
    }
  }

  test("rougeL / rougeLScore: components and F1") {
    val df = Seq(("a b c d", "a c")).toDF("cand", "ref")
    val row = df.select(
        TextFunctions.rougeL(col("cand"), col("ref")).as("o"),
        TextFunctions.rougeLScore(col("cand"), col("ref")).as("f"))
      .select(col("o.lcs"), col("o.cand_n"), col("o.ref_n"), col("f"))
      .collect()(0)
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) === ((2, 4, 2)))
    // P = 2/4, R = 2/2 -> F1 = 2*0.5*1.0/1.5 = 2/3
    assert(math.abs(row.getDouble(3) - 2.0 / 3.0) < 1e-12)
    val zero = Seq(("x y", "p q")).toDF("cand", "ref")
      .select(TextFunctions.rougeLScore(col("cand"), col("ref")))
      .collect()(0).getDouble(0)
    assert(zero === 0.0)
  }

  test("charNgramOverlap: whitespace-stripped clipped char n-grams") {
    // "ab cab" strips to "abcab": 2-grams [ab bc ca ab]; ref "abab":
    // [ab ba ab] -> clipped ab:min(2,2)=2, bc 0, ca 0 => 2 of 4 vs 3
    val df = Seq(("ab cab", "ab ab"), ("abc", "abc"), ("ab", "cd")).toDF("cand", "ref")
    val got = df.select(TextFunctions.charNgramOverlap(col("cand"), col("ref"), 2))
      .collect().map(r => (r.getStruct(0).getInt(0), r.getStruct(0).getInt(1),
        r.getStruct(0).getInt(2))).toSeq
    assert(got === Seq((2, 4, 3), (2, 2, 2), (0, 1, 1)))
  }

  test("chrF: identical -> 1, disjoint -> 0; absent orders skipped") {
    val df = Seq(
      ("ab", "ab"),            // orders 3..6 vacuous on both sides -> skipped
      ("aaaa bbbb", "cc dd"),
      ("hello world", "hello world")).toDF("cand", "ref")
    val got = df.select(TextFunctions.chrF(col("cand"), col("ref")))
      .collect().map(_.getDouble(0)).toSeq
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
    assert(got(2) === 1.0)
  }

  test("assembleConversations: gap sessionization, budget truncation, role tags") {
    val T_ = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      // user 1: two turns 5 min apart (one session), then a 25-min gap
      (1L, T_("2024-01-01 10:00:00"), 1L, "view", 1.0, "{\"k\":1}"),
      (2L, T_("2024-01-01 10:05:00"), 1L, "click", 1.0, "{\"k\":2}"),
      (3L, T_("2024-01-01 10:30:00"), 1L, "purchase", 1.0, "{\"k\":3}"),
      // user 2: one session, assistant-role events
      (4L, T_("2024-01-01 09:00:00"), 2L, "error", 1.0, "{\"k\":4}"),
      (5L, T_("2024-01-01 09:01:00"), 2L, "signup", 1.0, "{\"k\":5}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // each line is 3 whitespace tokens; budget 5 keeps exactly one turn
    val out = ChatFunctions.assembleConversations(events, tokenBudget = 5)
      .orderBy(col("user_id"), col("session_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(out === Array(
      (1L, 0, 2L, 1L, 3L, "user: view {\"k\":1}"),
      (1L, 1, 1L, 1L, 3L, "assistant: purchase {\"k\":3}"),
      (2L, 0, 2L, 1L, 3L, "assistant: error {\"k\":4}")))
    // budget 6 fits both turns of user 1's first session, newline-joined
    val full = ChatFunctions.assembleConversations(events, tokenBudget = 6)
      .filter(col("user_id") === 1 && col("session_id") === 0)
      .collect()(0)
    assert(full.getLong(3) === 2L)
    assert(full.getString(5) ===
      "user: view {\"k\":1}\nuser: click {\"k\":2}")
  }

  test("chat hardening: redactPii composes BEFORE assembly — no raw PII in transcripts") {
    val T_ = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      (1L, T_("2024-01-01 10:00:00"), 1L, "view", 1.0,
        "contact alice@example.com for help"),
      (2L, T_("2024-01-01 10:01:00"), 1L, "click", 1.0,
        "from host 10.1.2.3 port open"),
      (3L, T_("2024-01-01 10:02:00"), 1L, "purchase", 1.0,
        "callback +1 555 123 4567 today"),
      (4L, T_("2024-01-01 09:00:00"), 2L, "error", 1.0, null))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val scrubbed = events.withColumn("props", TextFunctions.redactPii(col("props")))
    val out = ChatFunctions.assembleConversations(scrubbed, tokenBudget = 1000)
      .orderBy(col("user_id"), col("session_id")).collect()
    val transcripts = out.map(_.getString(5)).mkString("\n")
    // no raw PII survives into any transcript line
    assert(!transcripts.contains("alice@example.com"))
    assert(!transcripts.contains("10.1.2.3"))
    assert(!transcripts.contains("555 123 4567"))
    // every planted form surfaced as its placeholder
    assert(transcripts.contains("<EMAIL>") && transcripts.contains("<IP>") &&
      transcripts.contains("<PHONE>"))
    // redaction must not change the conversation STRUCTURE: same sessions,
    // same turn counts as the unscrubbed assembly
    val raw = ChatFunctions.assembleConversations(events, tokenBudget = 1000)
      .orderBy(col("user_id"), col("session_id")).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ===
      raw.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    // null props stays the pinned trailing-space rendering after scrubbing
    assert(out.find(_.getLong(0) == 2L).get.getString(5) === "assistant: error ")
  }

  test("chat hardening: sessions follow time gaps across midnight, not calendar days") {
    val T_ = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      // 23:55 -> 00:03 next day: 8-min pause < the 10-min gap => SAME session
      (1L, T_("2024-01-01 23:55:00"), 1L, "view", 1.0, "a"),
      (2L, T_("2024-01-02 00:03:00"), 1L, "click", 1.0, "b"),
      // 00:03 -> 12:00: hours of silence => new session, same day
      (3L, T_("2024-01-02 12:00:00"), 1L, "view", 1.0, "c"),
      // and a multi-DAY gap is of course a new session too
      (4L, T_("2024-01-05 12:00:00"), 1L, "view", 1.0, "d"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = ChatFunctions.assembleConversations(events, tokenBudget = 1000)
      .orderBy(col("session_id"))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getString(5)))
    assert(out.length === 3)
    assert(out(0)._2 === 2L, "midnight-spanning pair must share a session")
    assert(out(0)._3 === "user: view a\nuser: click b")
    assert(out(1)._2 === 1L && out(2)._2 === 1L)
  }
}
