package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale probe (dev tooling, like Verify/Bench): materialize an sf1-class
  * fixture by replicating sf0.1's heavy tables `factor`x with perturbed
  * content, then time the dedup/ANN/graph heavyweights once each. The
  * point is catching super-linear creep — a corpus-linear operator at
  * 10x data should cost ~10x (modulo fixed overhead), never ~100x.
  *
  * Replicas are PERTURBED, not copied: copied docs/vectors would give
  * every row `factor-1` exact near-duplicates, growing dup-cluster pair
  * counts quadratically in the replication factor — that measures the
  * synthetic cluster blowup, not the engine's scaling. Vowel-rotated text
  * and position-rotated embeddings keep per-row statistics (length, token
  * count, vector norm) while decorrelating replicas.
  *
  *   sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * An optional 4th arg (comma-separated probe labels) runs just those
  * probes — the dev loop for re-measuring one operator after a change.
  */
object ScaleProbe {
  private[graft] val keyOffset = 1000000000L

  private[graft] def scaleDocuments(spark: SparkSession, base: String, factor: Int): DataFrame = {
    val d = Tables.load(spark, base, "documents")
    // 10 vowel permutations × 10 consonant rotations = 100 DISTINCT
    // character maps: with fewer than `factor` mappings the cycle repeats
    // and replica pairs (i, i+len) become exact duplicates, seeding one
    // synthetic dup partner per doc — which then measures the synthetic
    // cluster blowup, not the engine (the 10-map table did exactly that
    // at factor 100). Both maps are 1-1 char translations: word lengths,
    // token counts and whitespace are untouched, so per-row statistics
    // survive while replicas decorrelate.
    require(factor <= 100, s"only 100 distinct perturbations available, got factor=$factor")
    val rots = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "aeiuo", "eiuoa", "iuoae", "uoaei", "oaeiu")
    val cons = "bcdfghjklmnpqrstvwxz"
    def crot(j: Int): String = cons.drop(2 * j) + cons.take(2 * j)
    (0 until factor).map { i =>
      val vperm = rots(i % rots.length)
      val cperm = crot(i / rots.length)
      d.select(
        (col("doc_id") + lit(i * keyOffset)).as("doc_id"),
        (if (i == 0) col("text")
         else translate(col("text"), "aeiou" + cons, vperm + cperm)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  private[graft] def scaleEmbeddings(spark: SparkSession, base: String, factor: Int): DataFrame = {
    val e = Tables.load(spark, base, "embeddings")
    // Exact-dot contract gate (VectorExpressions.dotExact): the ORACLE's
    // double-arithmetic sum needs n·(10^6·max|v|)² < 2^53 → max|v| ≲ 11.8
    // at n = 64. Rotation/sign-flip replicas preserve magnitudes, so
    // checking the base set covers every replica. One-time build cost.
    val maxAbs = e.select(max(expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")))
      .head().getDouble(0)
    require(maxAbs <= 11.8,
      f"embeddings max|v| = $maxAbs%.3f exceeds the 2^53 oracle-exactness bound (11.8 at dim 64) — rescale the corpus")
    // 64 rotations × sign flip = 128 distinct isometries (norms and
    // pairwise base-set geometry preserved; replicas decorrelated) — the
    // old `i % 16` rotation table made replicas i and i+16 EXACT vector
    // duplicates at factor > 16
    (0 until factor).map { i =>
      val off = i % 64
      val neg = (i / 64) % 2 == 1
      val rotated =
        if (off == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${off + 1}, size(embedding) - $off), " +
          s"slice(embedding, 1, $off))")
      val perturbed = if (neg) transform(rotated, x => negate(x)) else rotated
      e.select((col("vec_id") + lit(i * keyOffset)).as("vec_id"),
        perturbed.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
  }

  /** Perturbation-scheme stamp written into generated fixture dirs.
    * Bumped whenever the replica math changes: a stale dir built by an
    * older scheme silently reused by the exists-guard would measure the
    * OLD corpus (e.g. the pre-v2 10-map table's exact-dup replicas at
    * factor 100) with nothing in the output saying so. */
  private val perturbScheme = "v2-100maps"

  private[graft] def scaleKeyed(spark: SparkSession, base: String, name: String,
      keys: Seq[String], factor: Int): DataFrame = {
    val t = Tables.load(spark, base, name)
    (0 until factor).map { i =>
      t.select(t.columns.toSeq.map { c =>
        if (keys.contains(c)) (col(c) + lit(i * keyOffset)).as(c) else col(c)
      }: _*)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Engine.session("graft-scaleprobe")

    val generated = !Paths.get(out).toFile.getCanonicalPath
      .equals(Paths.get(base).toFile.getCanonicalPath)
    val marker = Paths.get(s"$out/_scale_meta")
    if (!Files.exists(Paths.get(s"$out/documents.parquet"))) {
      Files.createDirectories(Paths.get(out))
      scaleDocuments(spark, base, factor)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      scaleEmbeddings(spark, base, factor)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      scaleKeyed(spark, base, "orders", Seq("o_orderkey", "o_custkey"), factor)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      scaleKeyed(spark, base, "lineitem", Seq("l_orderkey", "l_suppkey"), factor)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      Files.writeString(marker, s"$perturbScheme factor=$factor\n")
    } else if (generated) {
      // reusing an existing GENERATED fixture (write-free base runs pass
      // out == base and are exempt): refuse a dir built by a different
      // perturbation scheme OR a different factor — its replicas are a
      // different corpus (a factor-10 dir silently reused for a
      // "factor-100" run once measured a decade less data than labeled)
      val stamp = if (Files.exists(marker)) Files.readString(marker).trim else "<none>"
      require(stamp == s"$perturbScheme factor=$factor",
        s"fixture $out was built as '$stamp', current is '$perturbScheme factor=$factor' — delete it and rerun")
    }
    if (!Files.exists(Paths.get(s"$out/events.parquet"))) {
      // events.ts round-trips as nanos-since-epoch LONG — the nanos-era
      // fixture layout; Tables.load's schema gate detects the LongType
      // read and divides by 1000 (micros-era fixtures pass through)
      scaleKeyed(spark, base, "events", Seq("event_id", "user_id"), factor)
        .withColumn("ts", expr("unix_micros(ts)") * 1000L)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // JIT/codegen/file-index warmup, like Bench: without it the first
    // probes absorb several seconds of first-touch cost, which at the 1x
    // scale is larger than the queries themselves and skews every ratio
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("documents", "embeddings", "orders", "lineitem", "events")
      .foreach(n => Tables.load(spark, out, n).count())

    val only: Option[Set[String]] = args.lift(3).map(_.split(",").map(_.trim).toSet)
    // per-probe spill accounting (the spill-regime evidence a
    // constrained-heap campaign needs) from the probe's telemetry record
    val telemetry = QueryTelemetry.attach(spark)
    def time(label: String)(body: => Long): Unit =
      if (only.forall(_.contains(label))) {
        val (sec, rows, err) = telemetry.tagged(label) {
          val t0 = System.nanoTime()
          val (rows, err) =
            try (body, None)
            catch { case e: Throwable =>
              (-1L, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")) }
          ((System.nanoTime() - t0) / 1e9, rows, err)
        }
        val r = telemetry.take(label)
        val spill = s""","spillMemMB":${r.spillMemory / 1048576}""" +
          s""","spillDiskMB":${r.spillDisk / 1048576}""" +
          s""","peakTaskMemMB":${r.peakTaskMemory / 1048576}"""
        val errS = err.map(m => s""","error":"${m.replaceAll("[\"\\\\\\x00-\\x1f]", " ")}"""").getOrElse("")
        println(f"""{"probe":"$label","sec":$sec%.2f,"rows":$rows$spill$errS}""")
      }

    // same shared-pair discipline as Bench: the pair set feeds three
    // queries and is discovered once, timed under its own label. Warm it
    // whenever any selected probe consumes the cache (bypassing the
    // label filter — a filtered `dedup_components` run still needs the
    // warm pair set to measure the cache-read shape the bench measures).
    val pairConsumers = Set("dedup_jaccard_pairs", "dedup_components",
      "dedup_canonical", "shared:dedup_pairs")
    if (only.forall(sel => sel.exists(pairConsumers))) {
      val t0 = System.nanoTime()
      try {
        graft.operators.DedupQueries.warmSharedPairs(spark, out)
        println(f"""{"probe":"shared:dedup_pairs","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":0}""")
      } catch { case e: Throwable =>
        // record-as-failure, same contract as time(): one bad warm must
        // not abort the remaining probes of a long session
        val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"
          .replaceAll("[\"\\\\\\x00-\\x1f]", " ")
        println(f"""{"probe":"shared:dedup_pairs","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"error":"$m"}""")
      }
    }
    // shared graph edge stage (the Bench `shared:graph_edges` discipline):
    // the o⋈l+distinct build is paid once under its own label so the
    // graph probes measure their own iteration cost, not first-runner
    // edge-build attribution
    val graphConsumers = Set("graph_pagerank", "graph_degree_histogram",
      "graph_shortest_path", "shared:graph_edges")
    if (only.forall(sel => sel.exists(graphConsumers))) {
      val t0 = System.nanoTime()
      try {
        graft.operators.GraphQueries.warmSharedEdges(spark, out)
        println(f"""{"probe":"shared:graph_edges","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":0}""")
      } catch { case e: Throwable =>
        val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"
          .replaceAll("[\"\\\\\\x00-\\x1f]", " ")
        println(f"""{"probe":"shared:graph_edges","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":-1,"error":"$m"}""")
      }
    }
    val probes = Seq(
      "dedup_exact", "dedup_minhash_lsh", "dedup_jaccard_pairs",
      "dedup_components", "dedup_canonical", "dedup_simhash",
      "dedup_sorted_neighborhood", "dedup_embedding_canonical",
      "sim_ann_lsh", "sim_ann_ivf", "sim_pq_adc", "sim_kmeans_train",
      "graph_pagerank", "graph_degree_histogram",
      "text_bm25", "pipeline_curate", "pipeline_pack_sequences",
      "mba_item_pairs", "text_distinctive_terms", "text_source_overlap",
      "evt_markov_transitions", "pipeline_source_cap",
      // round-10 operators
      "text_token_entropy", "evt_session_conversion", "evt_dau_mau",
      "pipeline_token_budget", "mm_dedup_payload", "sim_ann_recall_eval",
      // round-11 operators
      "pipeline_mix_temperature", "mm_decode_png", "text_winnow_fingerprint",
      "dedup_winnow",
      // round-12 operators
      "text_repetition_gopher", "pipeline_ppl_buckets", "mm_frame_dedup",
      "mm_decode_payload_png",
      // round-12 second batch
      "dedup_bloom_decontam", "mm_audio_energy",
      "join_bucketed_colocated", "scan_orc_roundtrip",
      "pipeline_export_shards", "mm_scene_cuts", "graph_triangle_count",
      // round-13 operators
      "mm_dedup_perceptual", "pipeline_bpe_train", "layout_zorder",
      "sim_ivf_pq", "scan_avro_roundtrip", "pipeline_expectations",
      "evt_attribution_unmatched", "sim_ivf_pq_recall", "scan_json_roundtrip",
      // round-14/15 operators
      "graph_shortest_path", "agg_approx_topk_bound", "layout_zorder_kd",
      "pipeline_dsir", "pipeline_bpe_encode", "text_classifier_train",
      // round-16 operators
      "pipeline_chunk_dedup", "pipeline_chunk_retrieval")
    probes.foreach { n =>
      time(n)(SparkEntry.queries(n)(spark, out).count())
    }
    // IVF geometry detail for the routed-ANN probes: the corpus-derived
    // coarse width at THIS fixture's volume, so a campaign's per-scale
    // records show the probed fraction (nprobe/nlist ~ n^(-1/4))
    // shrinking as the corpus grows — the evidence that routed search
    // diverges from the full-scan ADC baseline with scale
    if (only.forall(s => s.contains("sim_ivf_pq") || s.contains("sim_ann_ivf"))) {
      val nVec = Tables.load(spark, out, "embeddings").count()
      val nl = graft.operators.SimilarityQueries.ivfNlist(nVec)
      val np = graft.operators.SimilarityQueries.ivfNprobe(nl)
      println(f"""{"detail":"ivf_geometry","nVec":$nVec,"nlist":$nl,"nprobe":$np,"probedFraction":${np.toDouble / nl}%.4f}""")
    }
    // z-order skipping census at scale: a quarter-by-quarter box over
    // the clustered lineitem copy (written by the layout_zorder probe;
    // rebuilt here if label-filtered). Hit row groups must stay a small
    // fraction of total as the corpus scales — the footer stats do the
    // pruning, not small-data luck. Emits a detail line with the
    // total/hit split; the probe row's "rows" is the hit count.
    time("zorder_census") {
      val zdir = graft.Scratch.dir("graft_zorder", out)
      val li = Tables.load(spark, out, "lineitem")
      // one stats pass serves both the (re)build and the query box
      val b = graft.plans.ZOrder.bounds(li, Seq("l_partkey", "l_suppkey"))
        .getOrElse(sys.error("empty lineitem fixture"))
      // rebuild when missing OR older than the fixture it clusters: a
      // regenerated corpus under the same out path would otherwise be
      // censused against the PREVIOUS corpus's clustered copy
      val marker = Paths.get(zdir, "_SUCCESS")
      val stale = !Files.exists(marker) ||
        Files.getLastModifiedTime(Paths.get(s"$out/lineitem.parquet"))
          .compareTo(Files.getLastModifiedTime(marker)) > 0
      if (stale)
        graft.plans.ZOrder.cluster(li, Seq("l_partkey", "l_suppkey"), 16, Some(b))
          .write.mode("overwrite").parquet(zdir)
      val (pLo, pHi) = (b(0)._1.toLong, b(0)._2.toLong)
      val (sLo, sHi) = (b(1)._1.toLong, b(1)._2.toLong)
      val (t, h) = graft.plans.ZOrder.rowGroupBoxCensus(spark, zdir,
        "l_partkey", pLo, pLo + (pHi - pLo) / 4,
        "l_suppkey", sLo, sLo + (sHi - sLo) / 4)
      println(s"""{"probe":"zorder_census_detail","totalRowGroups":$t,"hitRowGroups":$h}""")
      h.toLong
    }
    // BPE round-count probe (the OTHER scale axis — vocab, not data):
    // with the merge loop running locally on the collected histogram,
    // wall at 512 rounds must be far under 512/12 × the 12-round gate
    // probe above (pipeline_bpe_train) — one distributed corpus pass
    // plus in-memory rounds, not one Spark job per round.
    time("bpe_rounds_512") {
      graft.operators.TextQueries.bpeTrain(spark, out, 512).count()
    }
    // Decomposition probes for the embedding near-dup path: pair
    // DISCOVERY alone (no clustering/join tail), at the fixture's
    // deliberately near-random threshold (0.4 — LSH time exponent
    // ρ = ln(1/p)/ln 2 ≈ 0.665, so n^1.665 is the theoretical floor)
    // and at a production near-dup threshold (0.7, ρ ≈ 0.415) where
    // the adaptive band geometry prunes properly. base-vs-10x pairs
    // give the scaling ratio per threshold.
    import graft.operators.SimilarityQueries.{cosinePairsAnn, lshCandidatePairs}
    time("ann_pairs_thr04_base")(cosinePairsAnn(spark, base, 0.4).count())
    time("ann_pairs_thr04_10x")(cosinePairsAnn(spark, out, 0.4).count())
    time("ann_pairs_thr07_base")(cosinePairsAnn(spark, base, 0.7).count())
    time("ann_pairs_thr07_10x")(cosinePairsAnn(spark, out, 0.7).count())
    // sim_ann_lsh candidate-volume decomposition: with the corpus-derived
    // sketch width, same-sketch candidate pairs should grow ~linearly
    // (≤ ~512·n expected), never n²/2^w as a fixed width would
    time("lsh_candidates_base")(lshCandidatePairs(spark, base).count())
    time("lsh_candidates_10x")(lshCandidatePairs(spark, out).count())
    // simhash in-band candidate census (pre-hamming-verify): with the
    // corpus-adaptive band width (2^k ≥ n buckets per band) candidate
    // volume must stay ~corpus-linear — a fixed width would grow it
    // n²/2^k
    time("simhash_candidates")(
      graft.operators.DedupQueries.simhashCandidates(spark, out).count())
    // Winnow operators UNCAPPED: the gate queries cap their doc sets
    // (300/500) purely for DuckDB-oracle cost, so their probes are
    // constant-work smokes. These run the full-corpus fingerprint pass
    // and the whole containment-join pipeline — the measured (not
    // shape-argued) corpus-linearity evidence.
    time("winnow_fp_uncapped")(
      graft.operators.TextQueries.winnowFpRows(spark, out, Long.MaxValue)
        .select(col("doc_id"), col("f.fp").as("fp")).count())
    time("winnow_containment_uncapped")(
      graft.operators.DedupQueries.winnowContainment(spark, out, Long.MaxValue).count())
    // pagerank per-iteration constant: the web-graph use case runs 20-50
    // iterations; with the edge build amortized, 10 iterations should
    // cost ~(10it − 3it)/3it more loop time, never re-pay the build
    time("graph_pagerank_10iter_base")(
      graft.operators.GraphQueries.pagerank(spark, base, iters = 10).count())
    time("graph_pagerank_10iter_10x")(
      graft.operators.GraphQueries.pagerank(spark, out, iters = 10).count())
    // production double-precision twin (plain double mass sums instead
    // of the oracle-exact DECIMAL(38,18)): the delta against the rows
    // above is the per-iteration decimal tax — ScaleToolsSpec pins the
    // two paths' rank agreement
    time("graph_pagerank_double_10iter_base")(
      graft.operators.GraphQueries.pagerank(spark, base, iters = 10,
        exact = false).count())
    time("graph_pagerank_double_10iter_10x")(
      graft.operators.GraphQueries.pagerank(spark, out, iters = 10,
        exact = false).count())
    // lineage-cut effect at web-graph depth: 20 iterations with the
    // default cut-every-8 vs the same loop with cutting disabled — the
    // delta is pure Catalyst planning cost on the unrolled plan
    time("graph_pagerank_20iter_10x")(
      graft.operators.GraphQueries.pagerank(spark, out, iters = 20).count())
    time("graph_pagerank_20iter_uncut_10x")(
      graft.operators.GraphQueries.pagerank(spark, out, iters = 20,
        checkpointEvery = 999).count())
    // frontier BFS: per-round work is frontier × degree; at 8 rounds the
    // frontier has long since saturated (graph diameter ~4), so the
    // probe measures the settled-set anti-join's scaling, the one piece
    // that grows with corpus size even when the frontier is empty
    time("graph_bfs_8round_base")(
      graft.operators.GraphQueries.shortestPath(spark, base, rounds = 8).count())
    time("graph_bfs_8round_10x")(
      graft.operators.GraphQueries.shortestPath(spark, out, rounds = 8).count())
    // DSIR scoring: two corpus passes + a B-row broadcast model — wall
    // should track corpus size linearly, never the distinct-bigram count
    time("dsir_score_base")(
      graft.SparkEntry.queries("pipeline_dsir")(spark, base).count())
    time("dsir_score_10x")(
      graft.SparkEntry.queries("pipeline_dsir")(spark, out).count())
    graft.operators.DedupQueries.evictSharedPairs(spark)
    graft.operators.GraphQueries.evictSharedEdges(spark)
    graft.operators.TextQueries.evictClassifierModels(spark)
    spark.stop()
  }
}
