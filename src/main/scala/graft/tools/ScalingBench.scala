package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{DedupFunctions => D, SimilarityFunctions => Sim, TextFunctions => T}
import graft.raster.SceneIO

/** Scale-factor sweep: replicate the sf0.1 corpus K× (perturbed ids/texts
  * so dup structure stays realistic) and measure the heavy operators at 1×
  * and K×. A scan-bound operator should scale ≈K; a shuffle-shaped one
  * stays ≈K as long as its exchange volume is per-row-bounded. Results are
  * recorded in SCALE.md. Not part of the library surface.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(32)
    val d = "/root/testdata/sf0.1"

    // K perturbed replicas: ids offset per replica, one replica-tag token
    // appended so texts are near-dups of their siblings, not exact dups
    val base = spark.read.parquet(s"$d/documents.parquet")
    val embBase = spark.read.parquet(s"$d/embeddings.parquet")
    val docsDir = s"/tmp/graft-scale-docs-x$k"
    val embDir = s"/tmp/graft-scale-emb-x$k"
    if (!new java.io.File(docsDir).exists()) {
      (0 until k).map(i => base
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(docsDir)
      (0 until k).map(i => embBase
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 10_000_000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(embDir)
    }

    def time(name: String, runs: Int = 3)(f: => Long): Double = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val best = times.map(_._1).min
      println(f"[scale] $name%-28s best=${best}%.2fs rows=${times.head._2}")
      best
    }

    def suite(tag: String, docs: DataFrame, emb: DataFrame): Map[String, Double] = {
      println(s"== $tag: ${docs.count()} docs, ${emb.count()} vectors ==")
      Map(
        "exact_dup_groups" -> time(s"$tag exact_dup_groups") {
          D.exactDupGroups(docs, "text", "doc_id", includeSingletons = true).count()
        },
        "minhash_sig" -> time(s"$tag minhash_sig") {
          docs.select(D.minhashSignature(col("text"), 3, 8).as("s"))
            .agg(count(col("s"))).head().getLong(0)
        },
        "neardup_pairs" -> time(s"$tag neardup_pairs") {
          D.neardupPairsLocal(docs, "text", "doc_id",
            n = 3, bands = 4, rowsPerBand = 2, jaccardThreshold = 0.8).count()
        },
        "tfidf" -> time(s"$tag tfidf") {
          T.tfIdf(docs, "text", "doc_id", nDocs = docs.count()).count()
        },
        "top_ngrams" -> time(s"$tag top_ngrams") {
          docs.select(explode(graft.expr.NativeFunctions.word_ngrams(col("text"), 3)).as("g"))
            .groupBy("g").count().orderBy(desc("count")).limit(20).count()
        },
        "quality_score" -> time(s"$tag quality_score") {
          docs.select(T.qualityScore(col("text")).as("q"))
            .agg(count(col("q"))).head().getLong(0)
        },
        "kmeans_step" -> time(s"$tag kmeans_step") {
          val c = Array(Array.fill(64)(0.5), Array.fill(64)(-0.5))
          Sim.kmeansStep(emb, "embedding", c).count()
        },
        "ann_topk" -> time(s"$tag ann_topk") {
          val q = embBase.filter(col("vec_id") === 0)
            .select(col("embedding")).head().getSeq[Float](0).toArray
          Sim.topKCosine(emb, "embedding", "vec_id", q, 10).count()
        },
        "knn_join" -> time(s"$tag knn_join") {
          Sim.knnJoin(embBase.filter(col("vec_id") < 16), emb,
            "vec_id", "embedding", "vec_id", "embedding", 10).count()
        },
        "span_dedup" -> time(s"$tag span_dedup") {
          D.dedupSpans(docs, "text", "doc_id", spanTokens = 20).count()
        },
        "decontaminate" -> time(s"$tag decontaminate") {
          // fixed-size benchmark (the realistic regime): 500 base docs
          D.decontaminate(docs, base.limit(500), "text", "doc_id", n = 5).count()
        },
        "cross_neardup" -> time(s"$tag cross_neardup") {
          // fixed-size eval side vs the growing corpus
          D.crossNeardupPairs(docs, base.limit(500), "text",
            "doc_id", "doc_id", n = 3, bands = 1, rowsPerBand = 2,
            jaccardThreshold = 0.8).count()
        },
        "outlier_score" -> time(s"$tag outlier_score") {
          val c = Array(Array.fill(64)(0.5), Array.fill(64)(-0.5))
          emb.select(Sim.outlierScore(col("embedding"), c).as("d"))
            .agg(count(col("d"))).head().getLong(0)
        },
        "semantic_dedup" -> time(s"$tag semantic_dedup") {
          Sim.dedupSemantic(emb, "embedding", "vec_id",
            dim = 64, threshold = 0.9, bits = 10, seed = 42L).count()
        },
        "shard_by_budget" -> time(s"$tag shard_by_budget") {
          graft.functions.SamplingFunctions.shardByTokenBudget(
            docs.select(col("doc_id"), T.tokenCount(col("text")).as("n_tok")),
            col("doc_id"), col("n_tok"), "s42", 100000L, 4096).count()
        },
        "repeat_weighted" -> time(s"$tag repeat_weighted") {
          graft.functions.SamplingFunctions.repeatWeighted(
            docs, col("lang"), col("doc_id").cast("string"),
            Map("en" -> 0.5, "de" -> 2.3), 1.0, 100).count()
        })
    }

    def temporalSuite(tag: String, events: DataFrame): Map[String, Double] = Map(
      "asof_join" -> time(s"$tag asof_join") {
        val left = events.filter(col("event_type") === "purchase")
        val right = events.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("e"))
        graft.meta.TemporalJoins.asofJoin(left, right,
          Seq("user_id"), Seq("user_id"), "ts", "ts", Seq("e")).count()
      },
      "range_join" -> time(s"$tag range_join") {
        val pts = events.filter(col("event_type") === "click")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val ivs = events.filter(col("event_type") === "error")
          .select(col("event_id").as("i_id"), col("ts").as("i_start"),
            (col("ts") + expr("interval 10 minutes")).as("i_end"))
        graft.meta.TemporalJoins.rangeJoinBuckets(pts, ivs,
          "p_ts", "i_start", "i_end", bucketSeconds = 600).count()
      })

    def layoutSuite(tag: String, events: DataFrame, emb: DataFrame): Map[String, Double] = Map(
      "zorder_write" -> time(s"$tag zorder_write", runs = 2) {
        val dir = s"/tmp/graft-scale-z-$tag"
        graft.meta.ScaleOps.zorderWrite(events, Seq("user_id", "ts"), dir, 16)
        spark.read.parquet(dir).limit(1).count()
      },
      "heavy_hitters" -> time(s"$tag heavy_hitters") {
        graft.streaming.EventAggregates.windowedHeavyHitters(
          events, col("event_type"), k = 16, windowLen = "60 minutes").count()
      },
      "ivf_build" -> time(s"$tag ivf_build", runs = 2) {
        val dir = s"/tmp/graft-scale-ivf-$tag"
        Sim.writeIvfIndex(emb, "embedding", "vec_id", dir, nCells = 16, iterations = 2)
        16L
      },
      "ivf_probe" -> time(s"$tag ivf_probe") {
        val dir = s"/tmp/graft-scale-ivf-$tag"
        val q = embBase.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        Sim.searchIvfIndex(spark, dir, "embedding", "vec_id", q, 10, nProbe = 2).count()
      })

    // the four bench headliners (q95/q47/q96/q68 shapes) — the sf1
    // datapoint: at k=10 the replicated corpus matches sf1 row counts,
    // one decade beyond the per-round sf0.1 bench. GeoTIFF scene count
    // scales with the corpus (64 scenes per replica), matching how a
    // growing archive adds FILES, not pixels per file.
    def headlinerSuite(tag: String, docs: DataFrame, emb: DataFrame,
                       events: DataFrame): Map[String, Double] = Map(
      "sig_neardup_q95" -> time(s"$tag sig_neardup_q95") {
        D.neardupPairsBySignature(docs, "text", "doc_id",
          n = 3, bands = 4, rowsPerBand = 2, estThreshold = 0.5).count()
      },
      "neardup_dropped_q47" -> time(s"$tag neardup_dropped_q47") {
        val kept = D.dedupNear(docs, "text", "doc_id",
          n = 3, bands = 1, rowsPerBand = 2, jaccardThreshold = 0.8)
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_anti").count()
      },
      "geotiff_rtrip_q96" -> time(s"$tag geotiff_rtrip_q96", runs = 2) {
        val scenes = emb.filter(col("vec_id") % 10_000_000L < 64)
          .select(col("vec_id").cast("string").as("scene_id"),
            lit("B1").as("band"), lit(8).as("height"), lit(8).as("width"),
            lit(-9999.0f).as("nodata"), col("embedding").as("pixels"))
        val dir = java.nio.file.Files.createTempDirectory(s"q96scale").toString
        SceneIO.writeGeoTiffScenes(SceneIO.tileScene(scenes, 4, 4), dir,
          tileSize = 16, overviewFactors = Seq(2)).count()
        SceneIO.readGeoTiffScenes(spark, dir)
          .agg(sum(element_at(col("pixels"), 1))).head()
        1L
      },
      "range_join_q68" -> time(s"$tag range_join_q68") {
        val pts = events.filter(col("event_type") === "click")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val ivs = events.filter(col("event_type") === "error")
          .select(col("event_id").as("i_id"), col("ts").as("i_start"),
            (col("ts") + expr("interval 10 minutes")).as("i_end"))
        graft.meta.TemporalJoins.rangeJoinBuckets(pts, ivs,
          "p_ts", "i_start", "i_end", bucketSeconds = 600).count()
      })

    // the three queries the r8 timestamp drift broke (q48/q72/q98 shapes):
    // their sf1 datapoint — all shuffle on per-user/per-z keys whose
    // cardinality grows with the corpus, so the ideal ratio is <= k
    def restoredSuite(tag: String, events: DataFrame): Map[String, Double] = {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Map(
        "sessionization_q48" -> time(s"$tag sessionization_q48") {
          val newSession = when(
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
              > 600000000L, 1).otherwise(0)
          events.withColumn("new_s", newSession)
            .withColumn("session_id", sum(col("new_s")).over(byUser).cast("int"))
            .groupBy(col("user_id"), col("session_id"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("v")).count()
        },
        "lead_gap_q72" -> time(s"$tag lead_gap_q72") {
          events.select(col("event_id"),
            coalesce(unix_micros(lead(col("ts"), 1).over(byUser)) - unix_micros(col("ts")),
              lit(-1L)).as("gap_us")).agg(count(col("gap_us"))).head().getLong(0)
        },
        "zorder_skip_q98" -> time(s"$tag zorder_skip_q98") {
          val dir = s"/tmp/graft-scale-z98-$tag"
          if (!new java.io.File(dir).exists())
            graft.meta.ScaleOps.zorderWrite(events, Seq("user_id", "ts"), dir, 16)
          spark.read.parquet(dir)
            .filter(col("user_id") % 10000 < 10 &&
              col("ts").between(lit("2024-01-10 00:00:00").cast("timestamp"),
                lit("2024-01-13 00:00:00").cast("timestamp")))
            .groupBy(col("user_id")).agg(count(lit(1))).count()
        })
    }

    val evBase = graft.catalog.Tables.events(spark, d)
    val evDir = s"/tmp/graft-scale-ev-x$k"
    if (!new java.io.File(evDir).exists())
      (0 until k).map(i => evBase
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100_000_000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 10_000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(evDir)

    if (args.length > 1 && args(1) == "restored") {
      val r1 = restoredSuite("1x", evBase)
      val rk = restoredSuite(s"${k}x", spark.read.parquet(evDir))
      println(f"== restored-query scaling ratios (${k}x / 1x wall, ideal <= $k) ==")
      r1.keys.toSeq.sorted.foreach { op =>
        println(f"[ratio] $op%-20s ${r1(op)}%.2fs -> ${rk(op)}%.2fs  ${rk(op) / r1(op)}%.1f")
      }
      spark.stop()
      return
    }
    val headlinersOnly = args.length > 1 && args(1) == "headliners"
    if (headlinersOnly) {
      val r1 = headlinerSuite("1x", base, embBase, evBase)
      val rk = headlinerSuite(s"${k}x", spark.read.parquet(docsDir),
        spark.read.parquet(embDir), spark.read.parquet(evDir))
      println(f"== headliner scaling ratios (${k}x / 1x wall, ideal <= $k) ==")
      r1.keys.toSeq.sorted.foreach { op =>
        println(f"[ratio] $op%-20s ${r1(op)}%.2fs -> ${rk(op)}%.2fs  ${rk(op) / r1(op)}%.1f")
      }
    } else {
      val r1 = suite("1x", base, embBase) ++ temporalSuite("1x", evBase) ++
        layoutSuite("1x", evBase, embBase)
      val rk = suite(s"${k}x",
        spark.read.parquet(docsDir), spark.read.parquet(embDir)) ++
        temporalSuite(s"${k}x", spark.read.parquet(evDir)) ++
        layoutSuite(s"${k}x", spark.read.parquet(evDir), spark.read.parquet(embDir))
      println(f"== scaling ratios (${k}x / 1x wall, ideal <= $k) ==")
      r1.keys.toSeq.sorted.foreach { op =>
        println(f"[ratio] $op%-20s ${rk(op) / r1(op)}%.1f")
      }
    }
    spark.stop()
  }
}
