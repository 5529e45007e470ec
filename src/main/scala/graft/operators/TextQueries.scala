package graft.operators

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators for a training-data pipeline over `documents`
  * (north-star extension — the reference has no text surface; SURVEY.md
  * §2.12 maps these to Scala UDF/Aggregator territory, but every one of
  * them is expressible with codegen'd built-ins, which is what we do:
  * no UDFs anywhere, so the whole pipeline stays inside whole-stage
  * codegen and scales linearly with partitions).
  *
  * Determinism contract: tokenization is an explicit `split(text, ' ')`
  * (fixture text is single-space separated), and every hash is md5-based
  * because md5 is bit-identical across Spark and DuckDB — the oracle runs
  * the same algorithm, not a reimplementation.
  */
object TextQueries extends QueryPack {

  /** Chunk retrieval eval (`pipeline_chunk_retrieval`): per-chunk 3-gram
    * shingle sets, exact Jaccard ground truth over the dup-map query set,
    * and the banded-MinHash production path, compared top-1 for recall.
    * Kernels shared with the dedup family (ShinglesExpr / MinHashExpr). */
  private def chunkRetrieval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 64
    val S = 48
    // (doc_id, chunk_idx, chunk_hash, ts): one row per ≥3-token window
    val sets = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, (n - 1) div $S)")).as("ci"), col("t"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        concat_ws(" ", expr(s"slice(t, ci * $S + 1, $W)")).as("wtext"))
      .filter(size(split(col("wtext"), " ")) >= 3)
      .select(col("doc_id"), col("chunk_idx"), md5(col("wtext")).as("chunk_hash"),
        graft.functions.VectorFunctions.shingles(col("wtext"), 3).as("ts"))
      // six consumers read this frame (dup map, query keys, query sets,
      // exact ranking, bands, candidate verify) and Catalyst re-executes
      // the tokenize→chunk→md5→shingle pipeline once per physical
      // subtree — an eager localCheckpoint computes it ONCE and replaces
      // the plan with a cached leaf (blocks freed by the ContextCleaner
      // when the query's references drop, the BFS-frontier discipline)
      .localCheckpoint(true)
    // query set: the canonical (lowest doc, then lowest idx) occurrence of
    // every cross-document duplicated chunk — each has a true counterpart
    val dup = sets.groupBy(col("chunk_hash"))
      .agg(count_distinct(col("doc_id")).as("nd"), min(col("doc_id")).as("qd"))
      .filter(col("nd") >= 2)
      .select(col("chunk_hash"), col("qd"))
    val qkey = sets.join(dup, "chunk_hash")
      .filter(col("doc_id") === col("qd"))
      .groupBy(col("chunk_hash"), col("doc_id"))
      .agg(min(col("chunk_idx")).as("q_idx"))
      .select(col("doc_id").as("q_doc"), col("q_idx"))
      .distinct()
      // EVAL-path bound: the exact ground truth costs |queries| x |chunks|,
      // and the dup map grows with the corpus — cap the query set at the
      // 200 lowest (doc, idx) keys (deterministic both engines) so the
      // recall eval stays corpus-LINEAR at any scale; the production LSH
      // path is never bounded
      .orderBy(col("q_doc"), col("q_idx")).limit(200)
    val qs = sets.join(broadcast(qkey),
        sets("doc_id") === col("q_doc") && sets("chunk_idx") === col("q_idx"))
      .select(col("q_doc"), col("q_idx"), col("ts").as("qts"))
    def jac(a: Column, b: Column): Column = {
      val inter = size(array_intersect(a, b))
      inter.cast("double") / (size(a) + size(b) - inter)
    }
    // exact ground truth: query-bounded broadcast nested loop (eval path)
    val rankW = Window.partitionBy(col("q_doc"), col("q_idx"))
      .orderBy(col("j").desc, col("e_doc"), col("e_idx"))
    val exact = broadcast(qs)
      .join(sets.select(col("doc_id").as("e_doc"), col("chunk_idx").as("e_idx"),
          col("ts")),
        col("e_doc") =!= col("q_doc"))
      .withColumn("j", jac(col("qts"), col("ts")))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1 && col("j") > 0)
      .select(col("q_doc"), col("q_idx"), col("e_doc"), col("e_idx"), col("j"))
    // production path: 12 minhashes → 4 bands of 3 → keyed candidate join
    val bands = sets
      .select(col("doc_id"), col("chunk_idx"),
        graft.functions.VectorFunctions.minHash(col("ts"), 12).as("mh"))
      .select(col("doc_id"), col("chunk_idx"),
        explode(sequence(lit(0), lit(3))).as("band"), col("mh"))
      .select(col("doc_id"), col("chunk_idx"), col("band"),
        concat_ws(",",
          transform(slice(col("mh"), col("band") * 3 + 1, lit(3)),
            x => x.cast("string"))).as("sig"))
    val qb = bands.join(broadcast(qkey),
        bands("doc_id") === col("q_doc") && bands("chunk_idx") === col("q_idx"))
      .select(col("q_doc"), col("q_idx"), col("band"), col("sig"))
    val cand = qb.join(bands
          .select(col("doc_id").as("c_doc"), col("chunk_idx").as("c_idx"),
            col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("c_doc") =!= col("q_doc"))
      .select(col("q_doc"), col("q_idx"), col("c_doc"), col("c_idx"))
      .distinct()
    val ncand = cand.groupBy(col("q_doc"), col("q_idx"))
      .agg(count(lit(1)).as("n_cand"))
    val atopW = Window.partitionBy(col("q_doc"), col("q_idx"))
      .orderBy(col("j").desc, col("a_doc"), col("a_idx"))
    val atop = cand
      .join(qs, Seq("q_doc", "q_idx"))
      .join(sets.select(col("doc_id").as("c_doc"), col("chunk_idx").as("c_idx"),
          col("ts").as("cts")),
        Seq("c_doc", "c_idx"))
      .select(col("q_doc"), col("q_idx"), col("c_doc").as("a_doc"),
        col("c_idx").as("a_idx"), jac(col("qts"), col("cts")).as("j"))
      .withColumn("rn", row_number().over(atopW))
      .filter(col("rn") === 1)
      .select(col("q_doc"), col("q_idx"), col("a_doc"), col("a_idx"))
    exact
      .join(ncand, Seq("q_doc", "q_idx"), "left")
      .join(atop, Seq("q_doc", "q_idx"), "left")
      .select(col("q_doc"), col("q_idx"),
        col("e_doc").as("exact_doc"), col("e_idx").as("exact_idx"),
        floor(col("j") * 1e6).cast("long").as("jac_q6"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("a_doc") === col("e_doc") && col("a_idx") === col("e_idx"),
          lit(false)).as("hit"))
      .orderBy(col("q_doc"), col("q_idx"))
  }

  /** Chunk-grain SEMANTIC retrieval eval (`pipeline_chunk_ann`): chunk
    * embeddings (deterministic 16-dim signed feature hashing — integer
    * counts, exactly replayable in the oracle) indexed IVF-style with
    * the corpus-derived geometry the `sim_ann_ivf` family uses
    * (SimilarityQueries.ivfNlist/ivfNprobe: nlist = ⌈√n⌉, nprobe =
    * ⌈√nlist⌉), recall@10 measured against exact squared-L2 ground
    * truth. This is the RAG-retrieval twin of `pipeline_chunk_retrieval`
    * (which evaluates LEXICAL MinHash retrieval at the same grain).
    *
    * Embedding derivation: e[d] = Σ_tok ±1 where d = md5-bucket(tok) %
    * 16 and the sign is md5's 9th hex digit's parity — the feature-
    * hashing trick (Weinberger et al.) with integer-valued dimensions,
    * so EVERY distance in both engines is exact BIGINT arithmetic and
    * ties break deterministically by neighbor id; no float ULP can flip
    * a rank across engines.
    *
    * Scale shape: embeddings are one explode + two same-key hash aggs
    * (map-side combinable, ≤16 rows per chunk after the first); the
    * centroid set (chunk 0 of the nlist lowest docs — row-local
    * predicate, no global sort) and the 5-query set broadcast;
    * assignment shuffles n NARROW rows through the argmin agg; the
    * probe join rescans only nprobe lists per query; exact ground truth
    * is query-bounded (5 × n broadcast NL — the eval path, same
    * discipline as sim_ivf_pq_recall's). Never all-pairs. */
  private def chunkAnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 64
    val S = 48
    val D = 16
    val docs = Tables.spread(Tables.load(s, dir, "documents"))
    // corpus-derived index geometry (one metadata-light job; the oracle's
    // nl/np CTEs compute the identical integer find-first)
    val hdr = docs
      .select(sum(expr(s"((size(split(text, ' ')) - 1) div $S) + 1")).as("nc"),
        max(expr(s"((size(split(text, ' ')) - 1) div $S) + 1")).as("mx"),
        count(lit(1)).as("nd"))
      .head()
    val nChunks = hdr.getLong(0).max(1L)
    val nlist = SimilarityQueries.ivfNlist(nChunks)
    val nprobe = SimilarityQueries.ivfNprobe(nlist)
    // LOUD preconditions (no silent caps): the query set is chunk 0 of
    // docs nlist..nlist+4, which exists only while doc ids extend past
    // the centroid range — a corpus of few very long docs would
    // otherwise make the recall eval silently vacuous (empty vs empty
    // compares green while measuring nothing). The cid packing needs
    // chunk_idx < 10^5 (~4.8M tokens/doc) to stay collision-free.
    require(nlist + 5 <= hdr.getLong(2),
      s"pipeline_chunk_ann needs >= nlist+5 = ${nlist + 5} docs for its " +
        s"query set; corpus has ${hdr.getLong(2)}")
    require(hdr.getLong(1) < 100000L,
      s"pipeline_chunk_ann cid packing needs < 100000 chunks/doc; max is ${hdr.getLong(1)}")
    // (cid, tok): one row per chunk-window token; cid = doc_id·10⁵ + idx
    // packs the key into one BIGINT (doc_id and chunk_idx recover by
    // div/mod — row-local, so centroid/query selection needs no join)
    val ct = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, (n - 1) div $S)")).as("chunk_idx"), col("t"))
      .select((col("doc_id") * 100000L + col("chunk_idx")).as("cid"),
        explode(expr(s"slice(t, chunk_idx * $S + 1, $W)")).as("tok"))
    def bucket(c: Column): Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % D
    def sgn(c: Column): Column =
      when(conv(substring(md5(c), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
        .otherwise(-1L)
    // dense 16-dim integer embeddings: two same-key hash aggs (the
    // second's collect_list is bounded at 16 entries per chunk)
    val emb = ct
      .groupBy(col("cid"), bucket(col("tok")).as("d"))
      .agg(sum(sgn(col("tok"))).as("v"))
      .groupBy(col("cid"))
      .agg(map_from_entries(collect_list(struct(col("d"), col("v")))).as("m"))
      .select(col("cid"),
        expr(s"transform(sequence(0, ${D - 1}), d -> coalesce(m[CAST(d AS BIGINT)], 0L))")
          .as("e"))
      // five consumers (centroids, queries, assignment, probe scoring,
      // exact ground truth) — compute the embedding pipeline ONCE
      .localCheckpoint(true)
    def l2(a: String, b: String): Column =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
        "0L, (acc, x) -> acc + x)")
    // coarse centroids: chunk 0 of the nlist lowest docs — exactly nlist
    // rows by doc-id density, selected by a ROW-LOCAL predicate (a
    // global row_number over cid would funnel the corpus through one
    // partition; this does not)
    val cents = emb
      .filter(col("cid") % 100000L === 0 && col("cid") < nlist * 100000L)
      .select(col("cid").as("ccid"), col("e").as("ce"))
    // 5 deterministic queries OUTSIDE the centroid set (routing is
    // actually exercised): chunk 0 of docs nlist..nlist+4
    val queries = emb
      .filter(col("cid") % 100000L === 0 &&
        col("cid") >= nlist * 100000L && col("cid") < (nlist + 5L) * 100000L)
      .select(col("cid").as("query_id"), col("e").as("qe"))
    // assignment: n × nlist NARROW rows → map-side-combinable argmin
    // (min of struct(fd, ccid) ≡ the (fd, ccid) window's rank-1 row);
    // embeddings re-attach AFTER the argmin so the shuffle stays narrow
    val fdist = emb.crossJoin(broadcast(cents))
      .select(col("cid"), col("ccid"), l2("e", "ce").as("fd"))
    val lists = fdist
      .groupBy(col("cid"))
      .agg(min(struct(col("fd"), col("ccid"))).as("mn"))
      .select(col("cid"), col("mn.ccid").as("ccid"))
      .join(emb, "cid")
    // probes: 5 × nlist rows — parameters, not data
    val wP = Window.partitionBy(col("query_id")).orderBy(col("fd"), col("ccid"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qe"), col("ccid"),
        l2("qe", "ce").as("fd"))
      .withColumn("rnk", row_number().over(wP))
      .filter(col("rnk") <= nprobe)
      .select(col("query_id"), col("qe"), col("ccid"))
    // probe join: only the nprobe probed lists per query are rescored
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    val ivf = lists.join(broadcast(probes), "ccid")
      .filter(col("cid") =!= col("query_id"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        l2("qe", "e").as("dist"))
      .withColumn("rnk", row_number().over(wQ))
      .filter(col("rnk") <= 10)
      .select(col("query_id").as("i_q"), col("neighbor_id").as("i_n"))
    // exact ground truth: query-bounded broadcast NL (the eval path)
    val exact = emb.crossJoin(broadcast(queries))
      .filter(col("cid") =!= col("query_id"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        l2("qe", "e").as("dist"))
      .withColumn("rnk", row_number().over(wQ))
      .filter(col("rnk") <= 10)
    exact
      .join(ivf, col("query_id") === col("i_q") &&
        col("neighbor_id") === col("i_n"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("i_n")).as("n_overlap"),
        (count(col("i_n")).cast("double") / 10).as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  /** Shared winnow plumbing — used by `text_winnow_fingerprint` here and
    * `dedup_winnow` (DedupQueries): per-doc winnowing fingerprint rows
    * (doc_id, f struct<pos,fp>) under a doc-id cap (oracle-cost bound)
    * and the >= k+w-1 length precondition. One definition so a change to
    * the hash recurrence / window bound / precondition cannot silently
    * diverge between the two operators. */
  private[graft] def winnowFpRows(s: SparkSession, dir: String, docCap: Long): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < docCap)
      .select(col("doc_id"), lower(trim(col("text"))).as("s"))
      .filter(length(col("s")) >= 11)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.winnow(col("s"))).as("f"))

  /** The bigram-LM score frame memoized + persisted per (session,
    * corpus) — `text_lm_bigram` and `pipeline_ppl_buckets` both consume
    * the identical (doc_id, n_bigrams, surprise_q) frame, and before
    * round 17 each recomputed the whole train+score pipeline (~2.5 s
    * each at sf0.1). The shared-stage discipline (pairCache /
    * classifierModelCache): Bench warms it under `shared:bigram_model`
    * so consumers measure their own work. The frame is one narrow row
    * per doc — persisting it is cheap at any scale. */
  private val bigramCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Scored-doc count per cached bigram frame — the materializing count
    * already computes it, and the bucketing consumer needs it every
    * call; caching the NUMBER deletes a per-call count job over a frame
    * whose size the build already knows. */
  private val bigramCountCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private def bigramSurpriseQ(s: SparkSession, dir: String): DataFrame =
    bigramCache.getOrElseUpdate((s, dir), {
      val cached = bigramSurpriseQBuild(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = cached.count() // materialize now so both consumers read the cache
      bigramCountCache.putIfAbsent((s, dir), n): Unit
      cached
    })

  /** Row count of [[bigramSurpriseQ]]'s frame (map lookup after build).
    * getOrElse fallback: evictBigramModels (bench teardown / app-end
    * hook) can clear the count map between the build call and this read;
    * recompute from the frame rather than throw on the race. */
  private def bigramCount(s: SparkSession, dir: String): Long = {
    val df = bigramSurpriseQ(s, dir)
    bigramCountCache.getOrElse((s, dir), df.count())
  }

  /** Bench hook: train+score the bigram LM once per (session, corpus)
    * OUTSIDE the per-query timers (see [[bigramCache]]). */
  def warmBigramModel(s: SparkSession, dir: String): Long =
    bigramSurpriseQ(s, dir).count()

  /** Unpersist and drop every cached bigram frame belonging to `s`
    * (bench/suite teardown — the evictShared{Pairs,Edges} discipline). */
  def evictBigramModels(s: SparkSession): Unit = {
    bigramCache.filterInPlace { case ((sess, _), df) =>
      if (sess eq s) { df.unpersist(); false } else true
    }
    bigramCountCache.filterInPlace { case ((sess, _), _) => !(sess eq s) }
  }

  /** Per-doc mean bigram surprise under the corpus-trained add-1 bigram
    * LM, quantized (FLOOR(mean·1e6) through DECIMAL(38,12) so token
    * order cannot perturb bits) — the scoring core shared by
    * `text_lm_bigram` and `pipeline_ppl_buckets`. Columns:
    * (doc_id, n_bigrams, surprise_q). */
  private def bigramSurpriseQBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.spread(Tables.load(s, dir, "documents"))
    val toksArr = split(col("text"), " ")
    val toks = docs.select(col("doc_id"), explode(toksArr).as("w"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    val grams = docs.filter(size(toksArr) >= 2)
      .select(col("doc_id"), toksArr.as("t"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("g"))
    val cbg = grams.groupBy(col("g")).agg(count(lit(1)).as("cg"))
    // left-context counts DERIVE from the bigram table: c(prev) is by
    // definition Σ_g c(prev·w) — summing the (small, distinct-gram)
    // model table instead of re-exploding the corpus removes a third
    // full explode+shuffle of every bigram instance. Exact integer
    // arithmetic, so results are identical to counting from raw grams.
    val cprev = cbg.select(expr("split_part(g, ' ', 1)").as("prev"), col("cg"))
      .groupBy(col("prev")).agg(sum(col("cg")).as("cp"))
    grams.withColumn("prev", expr("split_part(g, ' ', 1)"))
      .join(cbg, "g")
      .join(cprev, "prev")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log((col("cg") + 1).cast("double") / (col("cp") + col("v")))).as("sur"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        floor(sum(col("sur").cast(DecimalType(38, 12))).cast("double") /
          count(lit(1)) * 1e6).cast("long").as("surprise_q"))
  }

  /** Exact k-th-smallest `surprise_q` (ties broken irrelevantly — the
    * k-th VALUE is tie-independent), two paths with IDENTICAL results
    * (TextPipelineSpec pins their agreement):
    *   - k ≤ topkMax: top-k (TakeOrderedAndProject — per-partition heap,
    *     k-row driver merge);
    *   - larger k (a k-proportional-to-n top-k would overflow limit()'s
    *     Int and OOM the driver merge): histogram refinement — one
    *     2^16-bucket histogram pass over the value range locates the
    *     boundary bucket (and shrinks the range 65536×), then one exact
    *     per-value aggregate inside it resolves the k-th value. The
    *     quantized score range (floor(mean·1e6), means O(10)) fits 2^32,
    *     so this is TWO corpus passes at any corpus size — the old
    *     binary search paid O(log range) ≈ 25-30 full count() passes.
    *     Pathological 64-bit ranges just loop the histogram step (≤ 4
    *     passes total); every driver-side collect is ≤ 2^16 rows. Both
    *     paths compute the smallest v with count(≤ v) ≥ k, which equals
    *     the k-th value in (surprise_q, doc_id) order — so the oracle's
    *     ORDER BY … LIMIT form agrees regardless of path.
    *
    * The bucketing maps values to the unsigned domain (v XOR 2^63 —
    * order-preserving) and buckets by unsigned right shift, with driver
    * bracket math done in wraparound-unsigned Longs: a range spanning
    * more than 2^63 (lo near Long.MinValue, hi near Long.MaxValue) would
    * overflow `hi - lo` / `lo + b*width` subtraction arithmetic — and a
    * per-row `surprise_q - lo` would throw under ANSI — so NO signed
    * subtraction touches the values anywhere. */
  private[graft] def kthSmallestSurprise(sq: DataFrame, k: Long,
      topkMax: Long = 1000000L): Long =
    if (k <= topkMax)
      sq.orderBy(col("surprise_q"), col("doc_id")).limit(k.toInt)
        .agg(max(col("surprise_q"))).first().getLong(0)
    else {
      val mm = sq.agg(min(col("surprise_q")), max(col("surprise_q"))).first()
      var lo = mm.getLong(0)
      var hi = mm.getLong(1)
      var need = k // rank of the target value within the current [lo, hi]
      // hi - lo wraps to the correct UNSIGNED span for any signed pair
      // (lo ≤ hi), compared as unsigned
      while (java.lang.Long.compareUnsigned(hi - lo, 65536L) >= 0) {
        // power-of-two bucket width 2^shift with shift sized so the
        // current span fills ≤ 2^16 buckets (span ≥ 2^16 here → shift ≥ 1,
        // each pass shears 16 bits off the span: ≤ 4 passes for 64 bits)
        val shift = 64 - java.lang.Long.numberOfLeadingZeros(hi - lo) - 16
        val histo = sq.filter(col("surprise_q").between(lo, hi))
          .groupBy(expr("shiftrightunsigned(surprise_q ^ shiftleft(cast(1 as bigint), 63), " +
            s"$shift)").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect()
          .sortWith((x, y) => java.lang.Long.compareUnsigned(x.getLong(0), y.getLong(0)) < 0)
        var acc = 0L
        var bi = 0
        while (bi < histo.length - 1 && acc + histo(bi).getLong(1) < need) {
          acc += histo(bi).getLong(1); bi += 1
        }
        val b = histo(bi).getLong(0) // unsigned bucket id in the XOR'd domain
        need -= acc
        // bucket bounds back in the signed domain: (b·2^shift) XOR 2^63;
        // the +1 end wraps through 0 → -1 → XOR gives Long.MaxValue,
        // exactly the open top of the domain
        lo = math.max(lo, (b << shift) ^ Long.MinValue)
        hi = math.min(hi, (((b + 1) << shift) - 1) ^ Long.MinValue)
      }
      // exact pass: ≤ 2^16 distinct quantized values remain in range
      val vals = sq.filter(col("surprise_q").between(lo, hi))
        .groupBy(col("surprise_q")).agg(count(lit(1)).as("c"))
        .orderBy(col("surprise_q")).collect()
      var acc = 0L
      var vi = 0
      while (vi < vals.length - 1 && acc + vals(vi).getLong(1) < need) {
        acc += vals(vi).getLong(1); vi += 1
      }
      vals(vi).getLong(0)
    }

  /** Both tertile boundaries (k1-th and k2-th smallest surprise_q,
    * k1 ≤ k2) from ONE TakeOrdered collect when k2 fits the top-k gate —
    * the collected column is k2 longs, the same driver bound as
    * [[kthSmallestSurprise]]'s top-k branch, and the i-th element of the
    * (surprise_q, doc_id)-ordered prefix IS the i-th smallest value, so
    * this returns exactly what two kthSmallestSurprise calls would (the
    * equivalence is pinned in TextPipelineSpec). Past the gate each
    * boundary takes the histogram-refinement path — at that scale two
    * bounded probes beat one unbounded collect. */
  private[graft] def tertileBoundaries(sq: DataFrame, k1: Long, k2: Long,
      topkMax: Long = 1000000L): (Long, Long) = {
    require(1L <= k1 && k1 <= k2, s"need 1 <= k1 <= k2, got ($k1, $k2)")
    if (k2 <= topkMax) {
      val vals = sq.orderBy(col("surprise_q"), col("doc_id"))
        .select(col("surprise_q")).limit(k2.toInt)
        .collect().map(_.getLong(0))
      require(vals.nonEmpty, s"tertileBoundaries: empty frame (k1=$k1, k2=$k2)")
      // clamp like kthSmallestSurprise's top-k branch (max of the
      // available prefix) so the documented equivalence holds even for a
      // caller whose k2 exceeds the frame's row count
      (vals(math.min(k1, vals.length).toInt - 1),
        vals(math.min(k2, vals.length).toInt - 1))
    } else
      (kthSmallestSurprise(sq, k1, topkMax), kthSmallestSurprise(sq, k2, topkMax))
  }

  /** The matching oracle CTE chain ending in `sq(doc_id, n_bigrams,
    * surprise_q)`; callers append their own selection. ONE definition on
    * each side so the two scoring consumers can never drift. */
  private val oBigramSq: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |vocab AS (SELECT count(DISTINCT w) AS v FROM toks),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM t2 WHERE len(t) >= 2),
      |cbg AS (SELECT g, count(*) AS cg FROM grams GROUP BY g),
      |cprev AS (SELECT split_part(g, ' ', 1) AS prev, CAST(SUM(cg) AS BIGINT) AS cp
      |          FROM cbg GROUP BY 1),
      |per AS (
      |  SELECT gr.doc_id, -LN(CAST(cg + 1 AS DOUBLE) / (cp + v)) AS sur
      |  FROM grams gr
      |  JOIN cbg ON gr.g = cbg.g
      |  JOIN cprev ON split_part(gr.g, ' ', 1) = cprev.prev
      |  CROSS JOIN vocab),
      |sq AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |         CAST(FLOOR(CAST(SUM(CAST(sur AS DECIMAL(38,12))) AS DOUBLE)
      |                    / count(*) * 1000000) AS BIGINT) AS surprise_q
      |  FROM per GROUP BY doc_id)""".stripMargin

  /** The matching oracle CTE chain (t → grams → rolling-equivalent Horner
    * hashes → per-window minima); callers append their own selection. */
  private[operators] def oWinnowCtes(docCap: Int): String =
    s"""t AS (
       |  SELECT doc_id, lower(trim(text)) AS s FROM documents
       |  WHERE doc_id < $docCap AND length(lower(trim(text))) >= 11),
       |g0 AS (SELECT doc_id, s, unnest(generate_series(1, length(s) - 7)) AS i FROM t),
       |g AS (
       |  SELECT doc_id, i,
       |         list_reduce(list_transform(generate_series(i, i + 7),
       |           j -> CAST(ord(substr(s, j, 1)) AS BIGINT)),
       |           (acc, c) -> (acc * 31 + c) % 1000000007) AS h
       |  FROM g0),
       |wmin AS (
       |  SELECT doc_id, i AS p,
       |         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g)""".stripMargin


  /** Full BPE tokenizer training — `rounds` iterative merges, not just
    * first-round pair discovery (`pipeline_bpe_merges`). The corpus is
    * touched ONCE (word histogram); every round after is vocab-sized:
    * count adjacent symbol pairs weighted by word frequency, pick the
    * winner (freq DESC, pair ASC — deterministic), apply the merge to
    * every word, repeat.
    *
    * The symbolization is a DOUBLE-separator string (`||h||e||y||`), and
    * merge application is one `replace('|x||y|' → '|xy|')`. That exact
    * encoding makes single-pass left-to-right replace EQUAL to greedy
    * BPE merging: adjacent occurrences share no pattern characters (the
    * middle `||` splits one bar to each side), so none are skipped, and
    * a run like `a a a a a` merges to `aa aa a` exactly as the greedy
    * scan does; symbol boundaries are unambiguous (the pattern requires
    * a full `|x||y|`, so `b` never matches the tail of symbol `ab`).
    * Spark and DuckDB `replace` share these semantics, which is what
    * lets the oracle replay every round declaratively.
    *
    * The unambiguity proof requires that no SYMBOL contains the
    * separator character, so words containing `|` are excluded from
    * training (both sides, declared precondition) — the same move real
    * BPE trainers make by reserving their boundary marker. Without the
    * filter a corpus word like `a|b` would symbolize to `||a|||||b||`
    * and the replace pattern could match at unintended offsets,
    * silently training non-BPE merges the oracle would AGREE with
    * (it runs the identical replace).
    *
    * Pacing: the DATA pass is distributed and runs ONCE (the word
    * histogram); the merge loop is inherently sequential in its decision
    * variable, and the frame it iterates on is VOCAB-sized by
    * construction — so when the vocabulary fits the driver comfortably
    * (≤ [[BpeLocalVocabCap]] distinct words; real tokenizer corpora are
    * far below it) the histogram is collected once and the merge rounds
    * run locally, the way production BPE trainers do. 30 k merge rounds
    * are then 30 k in-memory scans of a small array instead of 30 k
    * serial Spark jobs — the round-13 verdict's driver-pacing bottleneck
    * (one job per round on a vocab-sized frame, wall LINEAR in rounds
    * with a per-job floor). Corpora past the cap keep the distributed
    * per-round loop (lineage-cut every 8 rounds), trading round latency
    * for unbounded vocab.
    *
    * Local-loop determinism matches the engines exactly: pair ties break
    * on UNSIGNED UTF-8 BYTE order (what Spark's UTF8String ORDER BY and
    * DuckDB's binary collation both do) — Java's String.compareTo is
    * UTF-16 code-unit order, which disagrees beyond the BMP. */
  private[graft] val BpeLocalVocabCap: Long = 4L << 20

  private[graft] def bpeTrain(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    import s.implicits._
    val wc0 = Tables.spread(Tables.load(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains("|"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit("||"),
          array_join(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            "||"),
          lit("||")).as("s"),
        col("cnt"))
      .localCheckpoint(true) // the one corpus pass, materialized once
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    if (wc0.count() <= BpeLocalVocabCap) {
      // vocab-sized collect (the k-means-centroid pattern: parameters
      // come back to the driver, corpus data never does)
      var words = wc0.collect().map(r => (r.getString(0), r.getLong(1)))
      def utf8Cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val freq = new java.util.HashMap[String, java.lang.Long]
        words.foreach { case (sy, cnt) =>
          val syms = sy.split("\\|\\|").filter(_.nonEmpty)
          var i = 0
          while (i < syms.length - 1) {
            freq.merge(syms(i) + " " + syms(i + 1), cnt,
              (u, v) => u.longValue() + v.longValue())
            i += 1
          }
        }
        if (freq.isEmpty) exhausted = true
        else {
          var bp: String = null
          var bf = Long.MinValue
          freq.forEach { (p, f) =>
            if (f > bf || (f == bf && utf8Cmp(p, bp) < 0)) { bp = p; bf = f }
          }
          merges += ((r, bp, bf))
          val Array(x, y) = bp.split(" ", 2)
          val (pat, rep) = ("|" + x + "||" + y + "|", "|" + x + y + "|")
          // Java String.replace is the same left-to-right non-overlapping
          // scan as Spark/DuckDB replace — the double-separator encoding
          // proof (above) holds identically here
          words = words.map { case (sy, cnt) => (sy.replace(pat, rep), cnt) }
        }
        r += 1
      }
    } else {
      var wc = wc0
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val win = wc
          .select(filter(split(col("s"), "\\|\\|"), x => x =!= "").as("syms"), col("cnt"))
          .filter(size(col("syms")) >= 2)
          .select(explode(expr("transform(sequence(1, size(syms) - 1), " +
            "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))")).as("pair"),
            col("cnt"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("freq"))
          .orderBy(col("freq").desc, col("pair")).limit(1).collect()
        if (win.isEmpty) exhausted = true
        else {
          val pair = win(0).getString(0)
          merges += ((r, pair, win(0).getLong(1)))
          val Array(x, y) = pair.split(" ", 2)
          wc = wc.withColumn("s", call_function("replace", col("s"),
            lit("|" + x + "||" + y + "|"), lit("|" + x + y + "|")))
          if (r % 8 == 0) wc = wc.localCheckpoint(true)
        }
        r += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "freq").orderBy(col("merge_rank"))
  }

  /** DuckDB replay of [[bpeTrain]]: `rounds` unrolled CTE triples
    * (pair counts → winner → rewritten vocab), same double-separator
    * replace semantics. Each w_k is referenced twice (next round's pair
    * count AND next rewrite) — AS MATERIALIZED keeps the unrolled chain
    * linear instead of 2^rounds inlined copies (the classifier-oracle
    * lesson; here the tiny fixture vocab masked it). */
  private def bpeOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
      |  SELECT '||' || array_to_string(list_transform(range(1, length(w) + 1),
      |           i -> substring(w, i, 1)), '||') || '||' AS s,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE length(w) >= 1 AND NOT contains(w, '|')
      |  GROUP BY w)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |p$k AS (
        |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_transform(range(1, len(syms)),
        |             i -> syms[i] || ' ' || syms[i + 1])) AS pair, cnt
        |    FROM (SELECT list_filter(string_split(s, '||'), y -> y <> '') AS syms, cnt
        |          FROM w${k - 1}) t0) t1
        |  GROUP BY pair),
        |b$k AS (SELECT pair, freq FROM p$k ORDER BY freq DESC, pair LIMIT 1),
        |w$k AS MATERIALIZED (
        |  SELECT replace(s,
        |           '|' || string_split(b.pair, ' ')[1] || '||'
        |               || string_split(b.pair, ' ')[2] || '|',
        |           '|' || replace(b.pair, ' ', '') || '|') AS s, cnt
        |  FROM w${k - 1}, b$k b)""".stripMargin
    }
    // the final union is MATERIALIZED for the same DuckDB-1.0 reason as
    // the classifier oracle's score CTE: a plain select atop materialized
    // CTEs loses its top-level ORDER BY under the checker's
    // preserve_insertion_order=false
    sb ++= ",\nfinal AS MATERIALIZED (\n" +
      (1 to rounds).map(k =>
        s"  SELECT CAST($k AS INT) AS merge_rank, pair, freq FROM b$k")
        .mkString(" UNION ALL\n") +
      "\n)\nSELECT merge_rank, pair, freq FROM final\nORDER BY merge_rank"
    sb.toString
  }

  /** DuckDB replay of train-then-ENCODE: the [[bpeOracle]] chain with the
    * original word `w` carried through every rewrite round, so the final
    * vocab w<rounds> IS the word→encoding map; per-doc token counts then
    * come from one words⋈vocab join. Winners b_k aggregate over the same
    * (s, cnt) pairs as the training oracle, so the learned merge table is
    * identical — one CTE chain serves both halves of the pipeline. */
  private def bpeEncodeOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
      |  SELECT w,
      |         '||' || array_to_string(list_transform(range(1, length(w) + 1),
      |           i -> substring(w, i, 1)), '||') || '||' AS s,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE length(w) >= 1 AND NOT contains(w, '|')
      |  GROUP BY w)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |p$k AS (
        |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_transform(range(1, len(syms)),
        |             i -> syms[i] || ' ' || syms[i + 1])) AS pair, cnt
        |    FROM (SELECT list_filter(string_split(s, '||'), y -> y <> '') AS syms, cnt
        |          FROM w${k - 1}) t0) t1
        |  GROUP BY pair),
        |b$k AS (SELECT pair, freq FROM p$k ORDER BY freq DESC, pair LIMIT 1),
        |w$k AS MATERIALIZED (
        |  SELECT w, replace(s,
        |           '|' || string_split(b.pair, ' ')[1] || '||'
        |               || string_split(b.pair, ' ')[2] || '|',
        |           '|' || replace(b.pair, ' ', '') || '|') AS s, cnt
        |  FROM w${k - 1}, b$k b)""".stripMargin
    }
    // result is MATERIALIZED (the DuckDB-1.0 ordering quirk: a plain
    // final stage atop materialized CTEs can lose its ORDER BY under
    // preserve_insertion_order=false — surfaced here only at sf0.1 volume)
    sb ++= s"""
      |, enc AS (
      |  SELECT w, len(list_filter(string_split(s, '||'), y -> y <> '')) AS toks
      |  FROM w$rounds),
      |dw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |result AS MATERIALIZED (
      |  SELECT dw.doc_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_words,
      |         CAST(SUM(e.toks) AS BIGINT) AS n_tokens
      |  FROM dw JOIN enc e ON e.w = dw.w
      |  GROUP BY dw.doc_id)
      |SELECT doc_id, n_words, n_tokens FROM result
      |ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** Corpus-wide BPE ENCODE with the trained merge table — the daily
    * 100-TB tokenizer pass (train once, encode everything). The merge
    * table is a `rounds`-row MODEL collected to the driver (the k-means
    * centroid pattern: parameters come back, corpus data never does) and
    * applied as `rounds` chained replaces — in rank order, each a greedy
    * left-to-right pass, exactly how training rewrote its vocab, so
    * encoding any training word reproduces its training-time
    * segmentation. Scale shape: the replaces run over the DISTINCT-WORD
    * vocabulary (vocab-sized, like the trainer), and the corpus pass is
    * just explode + hash-join words→token-counts + per-doc sum — no
    * per-document string rewriting at all. */
  private[graft] def bpeEncode(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    // 12-row bounded parameter collect, rank order preserved
    val merges = bpeTrain(s, dir, rounds).collect()
      .map(_.getString(1)).toSeq
    val vocab0 = Tables.spread(Tables.load(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains("|"))
      .distinct()
      .withColumn("s",
        concat(lit("||"),
          array_join(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            "||"),
          lit("||")))
    val encoded = merges.foldLeft(vocab0) { (v, pair) =>
      val Array(x, y) = pair.split(" ", 2)
      v.withColumn("s", call_function("replace", col("s"),
        lit("|" + x + "||" + y + "|"), lit("|" + x + y + "|")))
    }
    val enc = encoded.select(col("w"),
      size(filter(split(col("s"), "\\|\\|"), y => y =!= "")).as("toks"))
    val dw = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    dw.join(enc, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("toks")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Distributed quality-classifier TRAINING — the fastText recipe the
    * inference surface (text_hashed_classifier) was missing: batch
    * logistic regression over hashed bag-of-words features (B=64 buckets
    * + intercept), label = lang='en', fixed `iters` full-batch gradient
    * steps at learning rate 1/32 (a power of two, so the update's
    * multiply is IEEE-exact; 1/2 visibly diverged on the word-soup
    * fixture — unnormalized counts make the Hessian scale with token
    * counts squared).
    *
    * Scale shape: the corpus is featurized ONCE into one row per doc —
    * (doc_id, y, f: array<(bucket, count)>), the array bounded at 65
    * entries by the model dimension — and persisted; each iteration then
    * compiles the 65-entry model INTO the margin expression as a map
    * literal (the [[graft.streaming.StreamingClassifier]] kernel, whose
    * batch equivalence is pinned: long addition is exactly associative-
    * commutative, so folding the SAME c·w(b) terms per row instead of
    * under a join+groupBy is a lossless reorder). Per iteration that
    * leaves ZERO joins and ZERO wide shuffles: a row-local margin +
    * residual pass over the persisted frame, then explode → per-bucket
    * gradient, which map-side-combines to ≤65 rows per partition before
    * its only (65-row) exchange. The model never leaves driver scope
    * (the k-means-centroid pattern — parameters come back to the driver,
    * corpus data never does). Replaces the round-15 shape (broadcast
    * model ⋈ features → groupBy(doc) margin → feats ⋈ resid → groupBy(b)
    * gradient: 2 joins + 2 corpus-wide shuffles per iteration) — same
    * weights per step by construction, the oracle is untouched.
    *
    * Cross-engine exactness: weights live on a 1e-6 integer grid (the q6
    * discipline). Per-doc margins Σ c·w_q are exact BIGINT folds; the
    * sigmoid runs in double FROM the same grid value (BIGINT/1e6 is an
    * exact conversion + one correctly-rounded IEEE division, identical on
    * both engines); residuals re-quantize via floor(r·1e6) (identical
    * doubles → identical integers); per-bucket gradients Σ r_q·c are
    * exact BIGINT folds (|g| ≤ 1e6·Σc < 2^53 through sf1, so the oracle's
    * double path is exact too); the update floor(g/(32N)) is one exact
    * conversion, one correctly-rounded division (×1/32 exact — power of
    * two), one floor. The only cross-engine ambiguity is exp()'s final
    * ulp, the accepted psi_q/odds_q window, shrunk further by the
    * coarse 1e-6 grid. */
  /** Trained model memoized per (session, corpus, iters) — training is
    * deterministic, and the infer gate consumes the SAME model the train
    * gate emits, so retraining would be pure duplicate work (in a real
    * pipeline the weight table is a published artifact). The cached value
    * is the 65-entry driver-side map, not a DataFrame — nothing to
    * unpersist. */
  private val classifierModelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), Map[Long, Long]]

  private[graft] def classifierWeights(s: SparkSession, dir: String, iters: Int): Map[Long, Long] =
    classifierModelCache.getOrElseUpdate((s, dir, iters),
      classifierTrainDocs(s, Tables.spread(Tables.load(s, dir, "documents")), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  /** Drop every cached model belonging to `s` (bench/suite teardown —
    * the keys otherwise strongly retain stopped SparkSessions for the
    * JVM's life; the evictShared{Pairs,Edges} discipline). */
  def evictClassifierModels(s: SparkSession): Unit =
    classifierModelCache.filterInPlace { case ((sess, _, _), _) => !(sess eq s) }

  private[graft] def classifierTrain(s: SparkSession, dir: String, iters: Int): DataFrame = {
    import s.implicits._
    classifierWeights(s, dir, iters).toSeq.toDF("b", "wq").orderBy(col("b"))
  }

  /** Training loop over ANY (doc_id, lang, text) frame — the spec trains
    * on a synthetic separable corpus (the fixture's languages share one
    * vocabulary by design, so label signal there is distributional only). */
  /** Hashed-feature model dimension + bucket function — THE single
    * definition shared by training, batch inference, and the streaming
    * gate ([[graft.streaming.StreamingClassifier]]), so the pinned
    * streaming==batch and train==infer bit-equalities cannot drift when
    * the featurization changes. */
  private[graft] val ClassifierBuckets = 64
  /** Corpus-size gate for driver-side training iteration: at or below
    * this many docs the collected bag frame is bounded (≤100k rows ×
    * ≤65 (b, c) pairs ≈ low hundreds of MB worst-case, a few MB on real
    * text), small enough for any driver; above it the loop runs as
    * distributed jobs. The sf1-class decade fixture (500k docs) takes
    * the distributed path, so scale probes exercise it. */
  private[graft] val DriverTrainGate = 100000L
  private[graft] def tokenBucket(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long") % ClassifierBuckets

  /** (doc_id, b, c) hashed bag-of-words + the intercept row per doc. */
  private def classifierFeats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), tokenBucket(col("t")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("b"), lit(1L).as("c")))

  /** One gradient step on the 1e-6 integer grid — THE single update
    * rule shared by the driver-gated and distributed training loops, so
    * the pinned path bit-equality holds by construction rather than by
    * keeping two copies of the arithmetic in sync. */
  private def stepWeights(w: Map[Long, Long], grad: Long => Long,
      nDocs: Long): Map[Long, Long] =
    w.map { case (b, q) =>
      b -> (q + math.floor(grad(b).toDouble / (32.0 * nDocs)).toLong)
    }

  /** `driverGate` is the driver-iteration corpus ceiling — overridden
    * only by the path-equivalence spec, which pins the driver and
    * distributed loops bit-identical on one corpus (the gate fixtures
    * are all inside [[DriverTrainGate]], so without the override the
    * distributed branch would be spec-covered but gate-unexercised). */
  private[graft] def classifierTrainDocs(s: SparkSession, docs: DataFrame, iters: Int,
      driverGate: Long = DriverTrainGate): DataFrame = {
    import s.implicits._
    // label + feature bag folded into ONE row per doc: the (b, c) pairs
    // live in a bounded array (≤ model dimension + intercept = 65
    // entries), so every iteration's margin is row-local arithmetic.
    // Fused featurization (r16 verdict #5): ONE scan of the corpus —
    // the bucket array (with the intercept appended) and the label both
    // derive row-locally from the doc, so the r16 shape's label JOIN
    // and intercept UNION (each an extra corpus scan) stay gone.
    // coalesce keeps NULL-text docs in the train set: transform(NULL, ...)
    // is NULL and a bag built from it would be NULL, whereas every doc
    // must carry its intercept row — a NULL-text corpus would otherwise
    // silently shift nDocs and the trained weights.
    // The bag is built ROW-LOCALLY (sort the bucket array, run-length
    // encode the runs): the r17-fused explode → groupBy(doc_id, b) →
    // groupBy(doc_id) shape still paid two corpus-wide exchanges to
    // build what is a per-row histogram — a doc's bag depends on no
    // other row, so the one-time featurization job is now a single
    // narrow stage (scan → project → persist). The multiset of (b, c)
    // per doc is IDENTICAL to classifierFeats' by construction (count
    // per bucket + exactly one intercept: tokenBucket lands in [0, 63],
    // so -1 only ever comes from the appended intercept, and array_sort
    // puts it first), keeping the pinned train==infer margin equality —
    // margins are exact integer folds, insensitive to bag order.
    val sortedBuckets = array_sort(concat(
      array(lit(-1L)),
      coalesce(transform(split(col("text"), " "), t => tokenBucket(t)),
        array().cast("array<bigint>"))))
    // 1-based positions that OPEN a run of equal values; the when()
    // guard keeps element_at(s, 0) from ever evaluating (CaseWhen is
    // lazy in both interpreted and codegen paths)
    def runStarts(arr: Column): Column =
      filter(sequence(lit(1), size(arr)), i =>
        when(i === lit(1), lit(true))
          .otherwise(element_at(arr, i) =!= element_at(arr, i - lit(1))))
    val feats = docs
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        sortedBuckets.as("s"))
      .select(col("doc_id"), col("y"), col("s"), runStarts(col("s")).as("st"))
      .select(col("doc_id"), col("y"),
        // run j (0-based lambda index) spans [st(j), next start): count =
        // next start − this start, with the virtual end sentinel n+1 for
        // the last run (try_element_at: past-the-end is NULL, not the
        // ANSI-mode error plain element_at raises)
        transform(col("st"), (p, j) =>
          struct(
            element_at(col("s"), p).as("b"),
            (coalesce(try_element_at(col("st"), j + lit(2)), size(col("s")) + lit(1))
              - p).cast("long").as("c"))).as("f"))
      .persist()
    // ONE narrow probe job decides the execution path: collect at most
    // gate+1 doc_ids (8 bytes each — a bounded ~800 KB even when the
    // corpus is past the gate, where the prefix is discarded; the limit
    // also stops the scan early there, which a count() would not). A
    // corpus inside the gate has, as a side effect, fully iterated —
    // and therefore fully cached — every partition, so the bag collect
    // below is a pure cache read.
    val probeIds = feats.select(col("doc_id"))
      .limit(driverGate.toInt + 1).collect().map(_.getLong(0))
    var w: Map[Long, Long] = Map.empty
    if (probeIds.length <= driverGate) {
      // The probe saw the WHOLE corpus — enforce the merge invariant the
      // per-row bag build narrowed (oracle and inference featurization
      // GROUP BY doc_id, so a duplicated doc_id must merge, not emit two
      // bags; documents.doc_id is the table PK, so this is free
      // insurance, not an expected path)
      require(probeIds.distinct.length == probeIds.length,
        "classifier training requires unique doc_ids (duplicate rows " +
          "would train on per-row bags where the oracle merges per doc)")
      // Size-gated driver iteration (the dedup_components union-find
      // discipline: a bounded driver materialization behind an explicit
      // gate, with the distributed loop as the at-scale path). At ≤100k
      // docs the bag frame is a few MB, and the `iters` steps are pure
      // arithmetic: each distributed step otherwise pays a full Spark
      // job (plan + codegen + 2 stages + 65-row exchange) to fold what
      // fits in an L2 cache. Bit-identical to the expression path below
      // by construction: margins and gradients are exact Long folds
      // (order-insensitive), and the per-element double ops (÷1e6 →
      // Math.exp → σ → ×1e6 → floor) are the same IEEE operations in
      // the same order as the column expressions.
      val local: Array[(Array[Long], Array[Long], Double)] = feats
        .select(col("f.b"), col("f.c"), col("y")).collect().map { r =>
          (r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray, r.getDouble(2))
        }
      // every doc carries exactly one intercept feature, so nDocs = row
      // count; the model's key set is the corpus' own bucket set (same
      // derivation as the distributed path's bucket-count job)
      val nDocs = local.length.toLong
      w = local.iterator.flatMap(_._1.iterator).map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        val grad = scala.collection.mutable.LongMap.empty[Long]
        local.foreach { case (bs, cs, y) =>
          var dotq = 0L
          var i = 0
          while (i < bs.length) { dotq += cs(i) * w(bs(i)); i += 1 }
          val rq = math.floor(
            (y - 1.0 / (1.0 + math.exp(-(dotq.toDouble / 1e6)))) * 1e6).toLong
          i = 0
          while (i < bs.length) {
            grad(bs(i)) = grad.getOrElse(bs(i), 0L) + rq * cs(i); i += 1
          }
        }
        w = stepWeights(w, b => grad.getOrElse(b, 0L), nDocs)
      }
    } else {
      // Distributed path: the corpus is past the driver gate. ONE
      // materialization job yields the driver-side scalars — the bucket
      // set (model keys) and nDocs (every doc carries exactly one
      // intercept feature, so nDocs = count(b = -1)).
      val bucketCounts = feats
        .select(explode(col("f.b")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
        .collect()
      val nDocs = bucketCounts.find(_.getLong(0) == -1L).map(_.getLong(1))
        .getOrElse(0L)
      // The iteration jobs re-read the persisted bag `iters` times —
      // read the cache through a narrow size-derived coalesce (≤100k bag
      // rows per task keeps executor memory flat; coalesce never EXCEEDS
      // the cached partition count, so a large corpus keeps its full
      // parallelism and the 100 TB shape is unchanged).
      val featsIter = {
        val cachedParts = feats.rdd.getNumPartitions
        val parts = math.min(cachedParts.toLong, nDocs / 100000L + 1L).max(1L).toInt
        if (parts < cachedParts) feats.coalesce(parts) else feats
      }
      w = bucketCounts.map(_.getLong(0) -> 0L).toMap
      for (_ <- 1 to iters) {
        // model → ONE map-typed literal (the StreamingClassifier kernel):
        // margin and residual are a row-local pass — no join, no per-doc
        // shuffle. typedlit (not map(lit, …)): a complex-type literal is a
        // reference object in generated code, so every iteration compiles
        // to the SAME source and Janino's cache is hit 7 of 8 times, where
        // 130 scalar literals inlined fresh values — and a fresh compile —
        // per step. Every feature bucket is a key of w (initialized from
        // the corpus' own bucket set above), so the lookup never misses.
        val wm = typedlit(w)
        val dotq = aggregate(
          transform(col("f"), x => x.getField("c") * element_at(wm, x.getField("b"))),
          lit(0L), (acc, v) => acc + v)
        val withR = featsIter.select(col("f"),
          floor((col("y") - lit(1.0) / (lit(1.0) + exp(-(dotq / lit(1e6)))))
            * lit(1e6)).cast("long").as("rq"))
        // gradient: explode the bounded arrays, partial-agg to ≤65 groups
        // (map-side combine shrinks the only exchange to 65 rows/partition)
        val grad = withR.select(col("rq"), explode(col("f")).as("x"))
          .groupBy(col("x.b")).agg(sum(col("rq") * col("x.c")).as("g"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤65 rows
        w = stepWeights(w, b => grad.getOrElse(b, 0L), nDocs)
      }
    }
    feats.unpersist()
    w.toSeq.toDF("b", "wq").orderBy(col("b"))
  }

  /** Score the corpus with a trained weight table — the inference half
    * that consumes [[classifierTrain]]'s model. Same featurization, same
    * exact BIGINT margin fold; returns per-doc (margin grid value, accept)
    * so the agreement spec can pin train-time and inference-time margins
    * bit-equal. */
  private[graft] def classifierScore(s: SparkSession, dir: String,
      weights: Map[Long, Long]): DataFrame =
    classifierScoreDocs(s, Tables.spread(Tables.load(s, dir, "documents")), weights)

  private[graft] def classifierScoreDocs(s: SparkSession, docs: DataFrame,
      weights: Map[Long, Long]): DataFrame = {
    import s.implicits._
    classifierFeats(docs)
      .join(broadcast(weights.toSeq.toDF("b", "wq")), Seq("b"))
      .groupBy(col("doc_id")).agg(sum(col("c") * col("wq")).as("dotq"))
      .select(col("doc_id"), col("dotq"), (col("dotq") >= 0L).as("accept"))
  }

  /** DuckDB replay of [[classifierTrain]]: `iters` unrolled CTE
    * quadruples (margin → residual → gradient → weight update), exact
    * integer folds at every step. Multi-referenced CTEs (feats, lab,
    * every w_k — each feeds both the next margin AND the next update)
    * are AS MATERIALIZED: inlined, the double reference makes the chain
    * 2^iters copies wide, which at sf1 spilled DuckDB past the disk
    * ceiling. The infer twin's `score` is materialized too — in DuckDB
    * 1.0 a plain CTE atop materialized ones loses the top-level ORDER BY
    * under preserve_insertion_order=false (the checker's setting). */
  private def classifierOracle(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |fx AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 64 AS b,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM toks GROUP BY doc_id, b),
      |feats AS MATERIALIZED (
      |  SELECT * FROM fx
      |  UNION ALL
      |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM documents),
      |lab AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wq FROM feats)""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s""",
        |m$k AS (
        |  SELECT f.doc_id, CAST(SUM(f.c * w.wq) AS BIGINT) AS dotq
        |  FROM feats f JOIN w${k - 1} w ON w.b = f.b GROUP BY f.doc_id),
        |r$k AS (
        |  SELECT m.doc_id,
        |         CAST(floor((l.y - 1.0 / (1.0 + exp(-(m.dotq / 1000000.0))))
        |                    * 1000000) AS BIGINT) AS rq
        |  FROM m$k m JOIN lab l ON l.doc_id = m.doc_id),
        |g$k AS (
        |  SELECT f.b, CAST(SUM(r.rq * f.c) AS BIGINT) AS g
        |  FROM feats f JOIN r$k r ON r.doc_id = f.doc_id GROUP BY f.b),
        |w$k AS MATERIALIZED (
        |  SELECT w.b,
        |         CAST(w.wq + CAST(floor(g.g / (32.0 * (SELECT n FROM nn))) AS BIGINT)
        |           AS BIGINT) AS wq
        |  FROM w${k - 1} w JOIN g$k g ON g.b = w.b)""".stripMargin
    }
    sb ++= s"\nSELECT b, wq FROM w$iters ORDER BY b"
    sb.toString
  }

  /** Train-then-SCORE oracle: the [[classifierOracle]] chain, then one
    * more margin pass with the final weights — per-doc (dotq, accept). */
  private def classifierInferOracle(iters: Int): String = {
    val train = classifierOracle(iters)
    val body = train.substring(0, train.lastIndexOf("\nSELECT "))
    body + s"""
      |, score AS MATERIALIZED (
      |  SELECT f.doc_id, CAST(SUM(f.c * w.wq) AS BIGINT) AS dotq
      |  FROM feats f JOIN w$iters w ON w.b = f.b GROUP BY f.doc_id)
      |SELECT doc_id, dotq, dotq >= 0 AS accept
      |FROM score ORDER BY doc_id""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    // Token counting: whitespace tokens, distinct tokens, char stats.
    Q(
      "text_token_stats",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  n_chars,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_tok_len
        |FROM documents WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq"),
          col("n_chars"),
          (length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks))
            .as("avg_tok_len"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: stopword ratio, vocabulary diversity, length band —
    // the length/punct/stopword-ratio heuristics of a pretraining filter.
    Q(
      "text_quality_score",
      """SELECT doc_id, n_tokens, stop_ratio, uniq_ratio,
        |  0.4 * uniq_ratio + 0.4 * (1.0 - stop_ratio)
        |    + CASE WHEN n_tokens BETWEEN 20 AND 90 THEN 0.2 ELSE 0.0 END AS quality
        |FROM (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('a','the'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS uniq_ratio
        |  FROM documents) t
        |WHERE quality >= 0.7
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          (size(filter(toks, t => t.isin("a", "the"))).cast("double") / size(toks))
            .as("stop_ratio"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio"))
      base
        .withColumn("quality",
          lit(0.4) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            when(col("n_tokens").between(20, 90), 0.2).otherwise(0.0))
        .filter(col("quality") >= 0.7)
        .orderBy(col("doc_id"))
    },

    // Language-ID by marker-token voting (n-gram-heuristic shape): score
    // each candidate language by its marker hits, argmax with a fixed
    // tie order. The fixture's text is synthetic so the guess is usually
    // 'en'; what the gate checks is that the distributed heuristic is
    // deterministic and engine-identical.
    Q(
      "text_lang_id",
      """SELECT doc_id, lang AS labeled,
        |  CASE WHEN de >= es AND de >= fr THEN 'de'
        |       WHEN es >= fr THEN 'es'
        |       ELSE 'fr' END AS guess
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('der','und','ist'))) AS de,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('el','los','es'))) AS es,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('le','les','est'))) AS fr
        |  FROM documents) t
        |WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      def hits(ws: String*) = size(filter(toks, t => t.isin(ws: _*)))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"),
          hits("der", "und", "ist").as("de"),
          hits("el", "los", "es").as("es"),
          hits("le", "les", "est").as("fr"))
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("labeled"),
          when(col("de") >= col("es") && col("de") >= col("fr"), "de")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr").as("guess"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprinting: full-content md5 plus a 60-bit integer
    // fingerprint (the rolling-hash role), both engine-identical.
    Q(
      "text_fingerprint",
      """SELECT doc_id,
        |  md5(lower(trim(text))) AS fp,
        |  CAST(('0x' || substr(md5(lower(trim(text))), 1, 15)) AS BIGINT) AS fp60
        |FROM documents WHERE doc_id < 250
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val norm = lower(trim(col("text")))
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"),
          md5(norm).as("fp"),
          conv(substring(md5(norm), 1, 15), 16, 10).cast("long").as("fp60"))
        .orderBy(col("doc_id"))
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    // the MOSS algorithm): k-gram ROLLING hashes (true Rabin-Karp O(1)
    // update in the native WinnowExpr), min per w-window with rightmost
    // tie-break, dedup → position-robust fingerprints. Any shared
    // substring of ≥ k+w−1 chars yields a common fingerprint at ~2/(w+1)
    // the density of full shingling — the provenance/near-dup signature
    // the brief's "document fingerprinting (rolling hash)" names. The
    // oracle replays the same hashes DECLARATIVELY (Horner via
    // list_reduce — algebraically identical to the rolling update, which
    // WinnowSpec pins) plus an explicit window argmin. ASCII precondition
    // as mm_decode_features: byte-level == codepoint-level hashing.
    Q(
      "text_winnow_fingerprint",
      s"""WITH ${oWinnowCtes(300)},
        |wins AS (
        |  SELECT w.doc_id, MAX(g.i) AS fpos, w.mn AS fp
        |  FROM wmin w JOIN g ON g.doc_id = w.doc_id
        |    AND g.i BETWEEN w.p AND w.p + 3 AND g.h = w.mn
        |  WHERE w.p <= w.ng - 3
        |  GROUP BY w.doc_id, w.p, w.mn),
        |fps AS (SELECT DISTINCT doc_id, fpos, fp FROM wins)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
        |       CAST(SUM(fp) AS BIGINT) AS fp_sum,
        |       CAST(MIN(fp) AS BIGINT) AS fp_min,
        |       CAST(MAX(fp) AS BIGINT) AS fp_max
        |FROM fps GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      winnowFpRows(s, dir, 300)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(col("f.fp")).as("fp_sum"),
          min(col("f.fp")).as("fp_min"),
          max(col("f.fp")).as("fp_max"))
        .orderBy(col("doc_id"))
    },

    // Regex ("BPE-ish") tokenization: alpha runs and digit runs as
    // separate tokens — a character-class pattern both engines' regex
    // dialects (Java / RE2) interpret identically.
    Q(
      "text_regex_tokens",
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_subtok,
        |       len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS n_uniq_subtok
        |FROM documents WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).as("n_subtok"),
          size(array_distinct(toks)).as("n_uniq_subtok"))
        .orderBy(col("doc_id"))
    },

    // Corpus-level term frequency: explode tokens → count — the shape of
    // a vocabulary build. Partial aggregation keeps the shuffle at
    // |vocab| rows regardless of corpus size.
    Q(
      "text_word_freq",
      """SELECT w, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |GROUP BY w
        |ORDER BY cnt DESC, w
        |LIMIT 20""".stripMargin
    ) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w"))
        .limit(20)
    },

    // Deterministic stratified sampling — how a training mix is drawn
    // from a multi-source corpus: membership is a pure function of the
    // doc id (md5 mod), so the sample is reproducible across runs,
    // engines and scales, needs no global shuffle or state, and keeps
    // per-source proportions auditable. The same WHERE clause extracts
    // the actual sampled rows at any SF.
    Q(
      "text_sample_stratified",
      """SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS total_docs,
        |       CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
        |       CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 = 0
        |                     THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      val inSample =
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 8 === 0
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total_docs"),
          sum(when(inSample, 1L).otherwise(0L)).as("sampled_docs"),
          sum(when(inSample, col("n_chars")).otherwise(0L)).as("sampled_chars"))
        .orderBy(col("source"))
    },

    // END-TO-END CURATION — the composition a real training-data run
    // executes as ONE plan: language filter → quality gate → exact
    // content dedup (min doc_id survives) → deterministic md5 sampling.
    // Every stage is corpus-linear (one scan, one content-hash shuffle
    // for the dedup window; filters push into the scan before it), so
    // the whole pipeline costs barely more than the dedup stage alone —
    // the point of declaring it as one DataFrame instead of four
    // materialized passes.
    Q(
      "pipeline_curate",
      """WITH scored AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('a','the'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS uniq_ratio
        |  FROM documents WHERE lang = 'en'),
        |graded AS (
        |  SELECT doc_id, source, text, n_tokens,
        |    0.4 * uniq_ratio + 0.4 * (1.0 - stop_ratio)
        |      + CASE WHEN n_tokens BETWEEN 20 AND 90 THEN 0.2 ELSE 0.0 END AS quality
        |  FROM scored),
        |deduped AS (
        |  SELECT doc_id, source, n_tokens, quality,
        |    row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |  FROM graded WHERE quality >= 0.5)
        |SELECT doc_id, source, n_tokens, quality
        |FROM deduped
        |WHERE rn = 1
        |  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 <> 3
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val scored = Tables.load(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("source"), col("text"),
          size(toks).as("n_tokens"),
          (size(filter(toks, t => t.isin("a", "the"))).cast("double") / size(toks))
            .as("stop_ratio"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio"))
      val graded = scored.select(col("doc_id"), col("source"), col("text"), col("n_tokens"),
        (lit(0.4) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
          when(col("n_tokens").between(20, 90), 0.2).otherwise(0.0)).as("quality"))
      val w = Window.partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))
      graded.filter(col("quality") >= 0.5)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 &&
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 4 =!= 3)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // TF-IDF top terms — the classic relevance/keyword-extraction score a
    // curation pipeline uses for topic balancing. tf is per (doc, term),
    // df is one vocabulary-sized aggregate over the corpus, the doc count
    // is a broadcast scalar — so the whole thing is one corpus-linear
    // token explode plus a vocab-sized shuffle, never per-doc passes.
    // Scores are FLOOR(·×1e6)-quantized BIGINTs (the established
    // transcendental-function determinism contract, expr_math_*) and the
    // rank orders by the QUANTIZED value so both engines tie-break
    // identically.
    Q(
      "text_tfidf_top_terms",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w AS term,
        |         CAST(FLOOR(CAST(tf AS DOUBLE) * LN(CAST(n_docs AS DOUBLE) / df) * 1000000) AS BIGINT) AS tfidf_q
        |  FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf_q,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf_q DESC, term) AS rnk
        |  FROM scored WHERE doc_id < 100)
        |SELECT doc_id, term, tfidf_q, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(Tables.load(s, dir, "documents"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // tf is already distinct per (doc, term): df is a count over it
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "w").crossJoin(broadcast(n))
        .select(col("doc_id"), col("w").as("term"),
          floor(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df")) * 1e6)
            .cast("long").as("tfidf_q"))
      val wWin = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf_q").desc, col("term"))
      scored.filter(col("doc_id") < 100)
        .withColumn("rnk", row_number().over(wWin))
        .filter(col("rnk") <= 3)
        .orderBy(col("doc_id"), col("rnk"))
    },

    // Unigram-LM surprise (perplexity-filter) scoring — the CCNet-style
    // quality gate: score each document by the mean negative log
    // probability of its tokens under the corpus unigram model; high
    // surprise = noise/gibberish, low = boilerplate. Corpus-linear token
    // explode + vocab-sized model + broadcast total; per-token surprise
    // is double (identical IEEE ops), the per-doc mean accumulates
    // through DECIMAL(38,12) before FLOOR-quantization so token order
    // cannot perturb bits.
    Q(
      "text_lm_surprise",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tok FROM freq),
        |per_tok AS (
        |  SELECT t.doc_id, -LN(CAST(cnt AS DOUBLE) / n_tok) AS surprise
        |  FROM toks t JOIN freq ON t.w = freq.w CROSS JOIN total),
        |per_doc AS (
        |  SELECT doc_id,
        |         count(*) AS n_tokens,
        |         CAST(FLOOR(CAST(SUM(CAST(surprise AS DECIMAL(38,12))) AS DOUBLE)
        |                    / count(*) * 1000000) AS BIGINT) AS surprise_q
        |  FROM per_tok GROUP BY doc_id)
        |SELECT doc_id, n_tokens, surprise_q,
        |       surprise_q BETWEEN 2000000 AND 8000000 AS keep
        |FROM per_doc
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val toks = Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // corpus token count DERIVES from the vocab-sized freq table
      // (Σ cnt ≡ count of toks) — summing ~|vocab| rows instead of
      // re-exploding every token removes a third full corpus explode.
      // Exact integer arithmetic: results identical by construction.
      val total = freq.agg(sum(col("cnt")).cast("long").as("n_tok"))
      val perTok = toks.join(freq, "w").crossJoin(broadcast(total))
        .select(col("doc_id"),
          (-log(col("cnt").cast("double") / col("n_tok"))).as("surprise"))
      perTok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          floor(sum(col("surprise").cast(DecimalType(38, 12))).cast("double") /
            count(lit(1)) * 1e6).cast("long").as("surprise_q"))
        .withColumn("keep", col("surprise_q").between(2000000L, 8000000L))
        .orderBy(col("doc_id"))
    },

    // BM25 ranking — the retrieval scorer a data pipeline uses for
    // query-driven corpus selection. The "query" is self-contained and
    // deterministic: the 5 highest-df corpus terms. Shapes: tf is the
    // corpus-linear token explode, df/avgdl are vocab-/scalar-sized
    // aggregates, the query terms broadcast. Per-term scores are double
    // (identical IEEE ops both engines), summed through DECIMAL(38,12)
    // so accumulation order cannot perturb bits, then FLOOR-quantized.
    Q(
      "text_bm25",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |qterms AS (SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT 5),
        |lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |stats AS (SELECT count(*) AS n_docs, SUM(dl) AS total_dl FROM lens),
        |term_scores AS (
        |  SELECT tf.doc_id,
        |         LN((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
        |           * (CAST(tf AS DOUBLE) * 2.2)
        |           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl /
        |              (CAST(total_dl AS DOUBLE) / n_docs))) AS s
        |  FROM tf JOIN qterms ON tf.w = qterms.w
        |          JOIN lens ON tf.doc_id = lens.doc_id
        |          CROSS JOIN stats),
        |scored AS (
        |  SELECT doc_id,
        |         CAST(FLOOR(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) * 1000000) AS BIGINT) AS bm25_q
        |  FROM term_scores GROUP BY doc_id),
        |ranked AS (
        |  SELECT doc_id, bm25_q,
        |         ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id) AS rnk
        |  FROM scored)
        |SELECT doc_id, bm25_q, rnk FROM ranked WHERE rnk <= 20
        |ORDER BY rnk""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables.spread(Tables.load(s, dir, "documents"))
      // the explicit isNotNull is a semantic no-op (doc_id is a key) with
      // a plan-shaping purpose: the lens join infers isnotnull(doc_id) on
      // ITS tf branch only, which makes the two tf subtrees (score side
      // and dfreq side) byte-different and defeats ReuseExchange — the
      // expensive explode+shuffle then runs TWICE. Pre-applying the
      // filter makes the branches identical, so the second reads the
      // first's shuffle output as a ReusedExchange (PlanSpec pins this).
      // Unlike tfidf (where a doc_id<100 pushdown makes the branches
      // genuinely different sizes), both bm25 branches need full data.
      val tf = docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // the tautological tf >= 1 keeps the count column live on the dfreq
      // branch — otherwise column pruning turns its partial aggregate
      // into a bare distinct, the two tf exchanges stop being identical,
      // and ReuseExchange can't kick in (see the isNotNull note above)
      val dfreq = tf.filter(col("tf") >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val qterms = dfreq.orderBy(col("df").desc, col("w")).limit(5)
      val lens = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"))
      val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val avgdl = col("total_dl").cast("double") / col("n_docs")
      val termScore =
        log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
      val scored = tf.join(broadcast(qterms), "w")
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), termScore.cast(DecimalType(38, 12)).as("s"))
        .groupBy(col("doc_id"))
        .agg(floor(sum(col("s")).cast("double") * 1e6).cast("long").as("bm25_q"))
      val w = Window.orderBy(col("bm25_q").desc, col("doc_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 20)
        .orderBy(col("rnk"))
    },

    // Overlapping-window chunking — the RAG/embedding prep pass: every
    // document splits into W=64-token windows at stride S=48 (25%
    // overlap), each chunk carrying a stable (doc_id, chunk_idx) id, its
    // true token count (tail chunks run short), and a content hash — the
    // unit an embedding job or retrieval index consumes. Chunk count is
    // the exact integer (n-1) div S + 1, identical arithmetic in both
    // engines. Scale shape: pure per-row flatMap (explode of a computed
    // range) — embarrassingly parallel, no shuffle until the final
    // presentation sort, output ~n_tokens/S rows per doc.
    Q(
      "pipeline_chunk_overlap",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |         unnest(range(0, ((n - 1) // 48) + 1)) AS chunk_idx,
        |         t, n
        |  FROM toks)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(LEAST(64, n - chunk_idx * 48) AS BIGINT) AS n_tokens,
        |       md5(array_to_string(t[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ')) AS chunk_hash
        |FROM chunks
        |ORDER BY doc_id, chunk_idx""".stripMargin
    ) { (s, dir) =>
      val W = 64
      val S = 48
      Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")))
        .select(col("doc_id"), col("t"), col("n"),
          explode(expr(s"sequence(0, (n - 1) div $S)")).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          least(lit(W), col("n") - col("chunk_idx") * S).cast("long").as("n_tokens"),
          md5(concat_ws(" ",
            expr(s"slice(t, chunk_idx * $S + 1, $W)"))).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Chunk-level dedup — the consumer the chunk table feeds in a real
    // pipeline (CCNet-style sub-document dedup at retrieval granularity):
    // boilerplate spans shared ACROSS documents surface as repeated
    // chunk hashes, invisible to whole-document dedup (the fixture's
    // duplicated spans live inside otherwise-distinct texts). Output is
    // the duplicate-chunk map: every hash occurring ≥2 times, its doc
    // spread, occurrence count, and the canonical (lowest doc_id) copy
    // every other occurrence dedups against. Scale shape: the chunk
    // table is the same shuffle-free flatMap as pipeline_chunk_overlap;
    // the map is ONE hash-partitioned groupBy(chunk_hash) with map-side
    // partial aggregation — the exact-dedup digest-groupBy discipline at
    // chunk granularity, never all-pairs, output bounded by the
    // duplicate mass (123 rows at sf0.1), not the corpus.
    Q(
      "pipeline_chunk_dedup",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id,
        |         unnest(range(0, ((n - 1) // 48) + 1)) AS chunk_idx,
        |         t
        |  FROM toks),
        |ch AS (
        |  SELECT doc_id,
        |         md5(array_to_string(t[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ')) AS chunk_hash
        |  FROM chunks)
        |SELECT chunk_hash,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_occ,
        |       MIN(doc_id) AS canon_doc
        |FROM ch
        |GROUP BY chunk_hash
        |HAVING COUNT(*) >= 2
        |ORDER BY chunk_hash""".stripMargin
    ) { (s, dir) =>
      val W = 64
      val S = 48
      Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")))
        .select(col("doc_id"),
          explode(expr(s"sequence(0, (n - 1) div $S)")).as("chunk_idx"), col("t"))
        .select(col("doc_id"),
          md5(concat_ws(" ",
            expr(s"slice(t, chunk_idx * $S + 1, $W)"))).as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("canon_doc"))
        .filter(col("n_occ") >= 2)
        .orderBy(col("chunk_hash"))
    },

    // Chunk-level RETRIEVAL with measured recall — the eval harness the
    // chunk surface needed (the sim_ann_recall_eval discipline at chunk
    // grain): for every cross-document duplicated chunk's canonical
    // occurrence ("query"), does banded MinHash-LSH retrieval find the
    // SAME top-1 counterpart that exact 3-gram Jaccard ground truth
    // ranks first? Output per query: the exact top-1 (doc, idx), its
    // floor-quantized Jaccard, the LSH candidate count, and the hit bit.
    // Scale shape: the exact all-corpus ranking is bounded by the QUERY
    // count (a broadcast nested-loop of ~|dup map| rows against the
    // chunk table — an eval path, exactly like the ANN recall gate's
    // ground truth); the production path is the banded LSH: 4 keyed band
    // rows per chunk, candidates verified locally — corpus-linear,
    // never all-pairs. Shingle sets and minhash reuse the ONE native
    // kernel pair (ShinglesExpr/MinHashExpr) the dedup family uses, so
    // retrieval and dedup cannot drift.
    Q(
      "pipeline_chunk_retrieval",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, ((n - 1) // 48) + 1)) AS chunk_idx, t
        |  FROM toks),
        |w AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |             array_to_string(t[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ') AS wtext
        |      FROM chunks),
        |sets AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, md5(wtext) AS chunk_hash,
        |         list_distinct(list_transform(
        |           generate_series(1, len(string_split(wtext, ' ')) - 2),
        |           i -> array_to_string((string_split(wtext, ' '))[i:i+2], ' '))) AS ts
        |  FROM w WHERE len(string_split(wtext, ' ')) >= 3),
        |dup AS (SELECT chunk_hash, MIN(doc_id) AS qd FROM sets
        |        GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2),
        |qkey AS (SELECT s.chunk_hash, s.doc_id AS q_doc, MIN(s.chunk_idx) AS q_idx
        |         FROM sets s JOIN dup d ON d.chunk_hash = s.chunk_hash AND s.doc_id = d.qd
        |         GROUP BY s.chunk_hash, s.doc_id),
        |qcap AS (SELECT DISTINCT q_doc, q_idx FROM qkey
        |         ORDER BY q_doc, q_idx LIMIT 200),
        |qs AS MATERIALIZED (
        |  SELECT s.doc_id AS q_doc, s.chunk_idx AS q_idx, s.ts
        |  FROM sets s JOIN qcap k ON k.q_doc = s.doc_id AND k.q_idx = s.chunk_idx),
        |exact AS MATERIALIZED (
        |  SELECT q_doc, q_idx, e_doc, e_idx, j FROM (
        |    SELECT q.q_doc, q.q_idx, c.doc_id AS e_doc, c.chunk_idx AS e_idx,
        |           CAST(len(list_intersect(q.ts, c.ts)) AS DOUBLE)
        |             / (len(q.ts) + len(c.ts) - len(list_intersect(q.ts, c.ts))) AS j,
        |           ROW_NUMBER() OVER (PARTITION BY q.q_doc, q.q_idx
        |                              ORDER BY CAST(len(list_intersect(q.ts, c.ts)) AS DOUBLE)
        |                                / (len(q.ts) + len(c.ts) - len(list_intersect(q.ts, c.ts))) DESC,
        |                              c.doc_id, c.chunk_idx) AS rn
        |    FROM qs q JOIN sets c ON c.doc_id != q.q_doc)
        |  WHERE rn = 1 AND j > 0),
        |mh AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, i,
        |         MIN(CAST(('0x' || substr(md5(sh || '#' || i), 1, 15)) AS BIGINT)) AS v
        |  FROM (SELECT doc_id, chunk_idx, unnest(ts) AS sh FROM sets)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i)
        |  GROUP BY doc_id, chunk_idx, i),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, i // 3 AS band,
        |         string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS sig
        |  FROM mh GROUP BY doc_id, chunk_idx, i // 3),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT k.q_doc, k.q_idx, c.doc_id AS c_doc, c.chunk_idx AS c_idx
        |  FROM qs k
        |  JOIN bands qb ON qb.doc_id = k.q_doc AND qb.chunk_idx = k.q_idx
        |  JOIN bands c ON c.band = qb.band AND c.sig = qb.sig AND c.doc_id != k.q_doc),
        |ncand AS (SELECT q_doc, q_idx, CAST(COUNT(*) AS BIGINT) AS n_cand
        |          FROM cand GROUP BY q_doc, q_idx),
        |atop AS MATERIALIZED (
        |  SELECT q_doc, q_idx, a_doc, a_idx FROM (
        |    SELECT cd.q_doc, cd.q_idx, cd.c_doc AS a_doc, cd.c_idx AS a_idx,
        |           ROW_NUMBER() OVER (PARTITION BY cd.q_doc, cd.q_idx
        |                              ORDER BY CAST(len(list_intersect(q.ts, c.ts)) AS DOUBLE)
        |                                / (len(q.ts) + len(c.ts) - len(list_intersect(q.ts, c.ts))) DESC,
        |                              cd.c_doc, cd.c_idx) AS rn
        |    FROM cand cd
        |    JOIN qs q ON q.q_doc = cd.q_doc AND q.q_idx = cd.q_idx
        |    JOIN sets c ON c.doc_id = cd.c_doc AND c.chunk_idx = cd.c_idx)
        |  WHERE rn = 1),
        |outq AS MATERIALIZED (
        |  SELECT e.q_doc, e.q_idx, e.e_doc AS exact_doc, e.e_idx AS exact_idx,
        |         CAST(floor(e.j * 1000000) AS BIGINT) AS jac_q6,
        |         COALESCE(n.n_cand, 0) AS n_cand,
        |         COALESCE(a.a_doc = e.e_doc AND a.a_idx = e.e_idx, false) AS hit
        |  FROM exact e
        |  LEFT JOIN ncand n ON n.q_doc = e.q_doc AND n.q_idx = e.q_idx
        |  LEFT JOIN atop a ON a.q_doc = e.q_doc AND a.q_idx = e.q_idx)
        |SELECT * FROM outq ORDER BY q_doc, q_idx""".stripMargin
    ) { (s, dir) => chunkRetrieval(s, dir) },

    // Chunk-grain SEMANTIC (embedding) retrieval with measured recall —
    // the RAG-retrieval eval at chunk granularity (r16 verdict #4):
    // deterministic 16-dim feature-hashed integer embeddings per chunk,
    // IVF-routed with the sim_ann_ivf corpus-derived geometry
    // (nlist = ⌈√n⌉, nprobe = ⌈√nlist⌉), recall@10 vs exact squared-L2
    // ground truth. All-integer distances: both engines rank by exact
    // BIGINT math with neighbor-id tie-breaks, so no float ULP can flip
    // a rank. See chunkAnn's scaladoc for the scale shape.
    Q(
      "pipeline_chunk_ann",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, ((n - 1) // 48) + 1)) AS chunk_idx, t
        |  FROM toks),
        |ctok AS (
        |  SELECT doc_id * 100000 + chunk_idx AS cid,
        |         unnest(t[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)]) AS tok
        |  FROM chunks),
        |sparse AS (
        |  SELECT cid,
        |         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS d,
        |         CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 = 0
        |                       THEN 1 ELSE -1 END) AS BIGINT) AS v
        |  FROM ctok
        |  GROUP BY cid, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16),
        |ids AS (SELECT DISTINCT cid FROM ctok),
        |emb AS (
        |  SELECT i.cid, dd.d, COALESCE(s.v, CAST(0 AS BIGINT)) AS v
        |  FROM ids i
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS d) dd
        |  LEFT JOIN sparse s ON s.cid = i.cid AND s.d = dd.d),
        |nl AS (
        |  SELECT COALESCE(MIN(k), 4096) AS nlist
        |  FROM (SELECT unnest(generate_series(16, 4096)) AS k)
        |  WHERE CAST(k AS BIGINT) * k >= (SELECT COUNT(*) FROM ids)),
        |np AS (
        |  SELECT COALESCE(MIN(p), 64) AS nprobe
        |  FROM (SELECT nlist, unnest(generate_series(2, 64)) AS p FROM nl)
        |  WHERE p * p >= nlist),
        |cents AS (
        |  SELECT cid AS ccid, d, v FROM emb
        |  WHERE cid % 100000 = 0 AND cid < (SELECT nlist FROM nl) * 100000),
        |queries AS (
        |  SELECT cid AS query_id FROM ids
        |  WHERE cid % 100000 = 0
        |    AND cid >= (SELECT nlist FROM nl) * 100000
        |    AND cid < ((SELECT nlist FROM nl) + 5) * 100000),
        |fd AS (
        |  SELECT e.cid, c.ccid,
        |         CAST(SUM((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS fd
        |  FROM emb e JOIN cents c ON e.d = c.d
        |  GROUP BY e.cid, c.ccid),
        |lists AS (
        |  SELECT cid, ccid FROM (
        |    SELECT cid, ccid,
        |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY fd, ccid) AS rnk
        |    FROM fd)
        |  WHERE rnk = 1),
        |probes AS (
        |  SELECT query_id, ccid FROM (
        |    SELECT q.query_id, f.ccid,
        |           ROW_NUMBER() OVER (PARTITION BY q.query_id
        |                              ORDER BY f.fd, f.ccid) AS rnk
        |    FROM queries q JOIN fd f ON f.cid = q.query_id)
        |  WHERE rnk <= (SELECT nprobe FROM np)),
        |cdist AS (
        |  SELECT p.query_id, l.cid AS neighbor_id,
        |         CAST(SUM((eq.v - en.v) * (eq.v - en.v)) AS BIGINT) AS dist
        |  FROM probes p
        |  JOIN lists l ON l.ccid = p.ccid AND l.cid <> p.query_id
        |  JOIN emb eq ON eq.cid = p.query_id
        |  JOIN emb en ON en.cid = l.cid AND en.d = eq.d
        |  GROUP BY p.query_id, l.cid),
        |ivf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |                              ORDER BY dist, neighbor_id) AS rnk
        |    FROM cdist)
        |  WHERE rnk <= 10),
        |edist AS (
        |  SELECT q.query_id, e.cid AS neighbor_id,
        |         CAST(SUM((eq.v - e.v) * (eq.v - e.v)) AS BIGINT) AS dist
        |  FROM queries q
        |  JOIN emb eq ON eq.cid = q.query_id
        |  JOIN emb e ON e.d = eq.d AND e.cid <> q.query_id
        |  GROUP BY q.query_id, e.cid),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |                              ORDER BY dist, neighbor_id) AS rnk
        |    FROM edist)
        |  WHERE rnk <= 10)
        |SELECT e.query_id,
        |       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap,
        |       CAST(COUNT(i.neighbor_id) AS DOUBLE) / 10 AS recall_at_10
        |FROM exact e
        |LEFT JOIN ivf i ON e.query_id = i.query_id
        |                AND e.neighbor_id = i.neighbor_id
        |GROUP BY e.query_id
        |ORDER BY e.query_id""".stripMargin
    ) { (s, dir) => chunkAnn(s, dir) },

    // Sequence packing — the pretraining prep step after curation: the
    // per-source token stream (docs in doc_id order) is split at fixed
    // 512-token block boundaries, GPT-style concatenate-then-chunk; the
    // manifest reports, per (source, bin), how many docs start there,
    // their token mass, and how many straddle into the next block.
    // Integer-exact window cumsums, no transcendental math. Scale shape:
    // packing PARTITIONS BY source (in production: by shard), so the
    // running sums parallelize across shards instead of one global
    // ordered window — the difference between a single-task sort and a
    // corpus-linear job.
    Q(
      "pipeline_pack_sequences",
      """WITH sized AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |pos AS (
        |  SELECT source, doc_id, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM sized)
        |SELECT source, CAST(start_tok // 512 AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |       CAST(SUM(CASE WHEN (start_tok + n_tokens - 1) // 512 > start_tok // 512
        |                THEN 1 ELSE 0 END) AS BIGINT) AS straddlers
        |FROM pos
        |GROUP BY source, start_tok // 512
        |ORDER BY source, bin""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sized = Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pos = sized.withColumn("start_tok",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      pos
        .withColumn("bin", expr("start_tok div 512"))
        .withColumn("last_bin", expr("(start_tok + n_tokens - 1) div 512"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          sum(when(col("last_bin") > col("bin"), 1L).otherwise(0L)).as("straddlers"))
        .orderBy(col("source"), col("bin"))
    },

    // Token-budget selection — fill a fixed training-token budget with
    // the best-scoring documents (score: closeness of mean word length
    // to 5, a cheap fluency proxy; any per-doc quality score slots in).
    // The naive form is ONE GLOBAL ordered cumsum over the corpus — a
    // single-partition sort that dies at scale. This is the two-phase
    // shape instead: (1) per-doc scores quantize into ≤15k buckets
    // (score range is bounded, so bucket count is bounded by the
    // QUANTIZATION, not the corpus); the budget cutoff comes from a
    // cumulative mass window over that bounded bucket table (broadcast
    // back); (2) only the boundary bucket needs doc-level ordering, and
    // its cumsum windows PER BUCKET — corpus rows never funnel through
    // one partition. Selection is identical to the global greedy order
    // (score desc, doc_id) by construction; the oracle runs the naive
    // global form and must agree exactly.
    Q(
      "pipeline_token_budget",
      """WITH sized AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         n_chars
        |  FROM documents),
        |scored AS (
        |  SELECT source, doc_id, n_tokens,
        |         -CAST(FLOOR(ABS(CAST(n_chars - (n_tokens - 1) AS DOUBLE)
        |                         / n_tokens - 5.0) * 1000) AS BIGINT) AS score_q
        |  FROM sized),
        |pos AS (
        |  SELECT source, n_tokens,
        |         SUM(n_tokens) OVER (ORDER BY score_q DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM scored)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected
        |FROM pos WHERE start_tok < 5000
        |GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 5000L
      val scored = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"), col("n_chars"))
        .withColumn("score_q",
          -floor(abs((col("n_chars") - (col("n_tokens") - 1)).cast("double")
            / col("n_tokens") - 5.0) * 1000).cast("long"))
      // phase 1: token mass per score bucket (≤15k rows by quantization),
      // cumulative mass BEFORE each bucket in score-descending order —
      // a window over the bounded bucket table, then broadcast back
      val buckets = scored.groupBy(col("score_q"))
        .agg(sum(col("n_tokens")).as("bucket_mass"))
      val wb = Window.orderBy(col("score_q").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bcum = buckets
        .withColumn("cum_before", sum(col("bucket_mass")).over(wb) - col("bucket_mass"))
        .select(col("score_q"), col("cum_before"))
      // phase 2: doc-level start offsets exist only WITHIN a bucket
      // (bucket-partitioned window), shifted by the bucket's cum_before
      val wd = Window.partitionBy(col("score_q")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.join(broadcast(bcum), "score_q")
        .withColumn("start_tok",
          col("cum_before") + sum(col("n_tokens")).over(wd) - col("n_tokens"))
        .filter(col("start_tok") < budget)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs_selected"),
          sum(col("n_tokens")).cast("long").as("tokens_selected"))
        .orderBy(col("source"))
    },

    // Repetition signals — the Gopher/MassiveText quality heuristics for
    // catching degenerate machine-generated text: per-document fraction
    // of bigram occurrences belonging to the single most common bigram
    // (top2_frac) and fraction that are repeats of an earlier occurrence
    // (dup2_frac). One explode + two hash aggregations, all codegen'd;
    // at 100 TB this is corpus-linear with doc_id-local keys (no global
    // state — each doc's signals depend only on its own bigrams).
    Q(
      "text_repetition_signals",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
        |SELECT doc_id,
        |       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top2_frac,
        |       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup2_frac
        |FROM counts GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      val withT = Tables.spread(Tables.load(s, dir, "documents"))
        .filter(size(toks) >= 2)
        .select(col("doc_id"), toks.as("t"))
      val grams = withT.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") / sum(col("c"))).as("top2_frac"),
          ((sum(col("c")) - count(lit(1))).cast("double") / sum(col("c"))).as("dup2_frac"))
        .orderBy(col("doc_id"))
    },

    // PII redaction — the scrubbing pass every published pretraining
    // pipeline runs before training: a chain of codegen'd regexp_replace
    // (emails, then digit runs), with a per-row redaction count for audit
    // sampling. The fixture's props JSON carries digit runs, so the
    // number pattern fires on every row; the email pattern's firing is
    // proven on synthetic PII in TextPipelineSpec (fixture text has
    // none — by design, it is synthetic). Row-local → trivially
    // corpus-linear at any scale.
    Q(
      "text_pii_redact",
      """SELECT event_id,
        |  regexp_replace(regexp_replace(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_num
        |FROM events WHERE event_id < 500
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      Tables.load(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          regexp_replace(regexp_replace(col("props"), email, "<EMAIL>"),
            "[0-9]+", "<NUM>").as("redacted"),
          regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_num"))
        .orderBy(col("event_id"))
    },

    // Deterministic train/val/test split — assignment must be a pure
    // function of the stable doc key (never rand(): reruns, retries and
    // engine migrations must land every doc in the same split). Bucket =
    // first 6 hex digits of md5(doc_id) mod 100 → 80/10/10. The gate
    // compares per-(split, source) counts and a doc_id checksum, so a
    // single reassigned document fails it. Row-local hash → no shuffle
    // beyond the final tiny aggregate.
    Q(
      "sample_split_hash",
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |       source, count(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM h GROUP BY 1, 2
        |ORDER BY split, source""".stripMargin
    ) { (s, dir) =>
      val bucket = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"), col("source"))
    },

    // Training-corpus EXPORT — the last mile of the pipeline: write the
    // corpus as N deterministic shards (the same md5 doc-hash as the
    // split/mix operators, so membership is reproducible run-over-run),
    // then read the manifest BACK FROM THE EXPORTED LAYOUT: per shard,
    // doc/token totals, source spread, and an id checksum. The oracle
    // answers from the raw table — any doc lost, duplicated, or
    // mis-sharded by the round trip breaks the hash gate. Write
    // discipline is the partitioned-layout rule (repartition ON the
    // shard column → one file per shard dir regardless of input
    // parallelism); trainers consume shard dirs independently, so
    // balanced shard token totals — which the manifest exposes — are the
    // thing this export exists to guarantee.
    Q(
      "pipeline_export_shards",
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER) % 8 AS shard,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS sources,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM h GROUP BY shard
        |ORDER BY shard""".stripMargin
    ) { (s, dir) =>
      val shard = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 8")
      val scratch = graft.Scratch.dir("graft_shards", dir)
      // the export carries the PAYLOAD (text), not just metadata — the
      // shard shuffle moving the corpus bytes once is the honest cost of
      // this op; the manifest read-back then column-prunes the exported
      // files down to the metadata it aggregates
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          size(split(col("text"), " ")).as("n_tokens"), shard.as("shard"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(scratch)
      s.read.parquet(scratch)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("tokens"),
          countDistinct(col("source")).as("sources"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy(col("shard"))
    },

    // Quality-weighted source mixing — the data-mixture step: each
    // source's acceptance rate is (quality / best-quality)², so the best
    // source keeps everything and weaker sources downsample, and the
    // accept decision is the same deterministic md5 bucket as the split
    // operator (reproducible mixtures). Quality is the decimal-exact mean
    // uniqueness ratio, so both engines derive bit-identical thresholds.
    // Scale shape: the per-source table is tiny → broadcast back onto
    // the corpus scan; one narrow pass + one small aggregate.
    Q(
      "pipeline_mix_weighted",
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10000 AS bucket,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS uniq_ratio
        |  FROM documents),
        |w AS (
        |  SELECT source,
        |         CAST(SUM(CAST(uniq_ratio AS DECIMAL(28,6))) AS DOUBLE) / COUNT(uniq_ratio) AS qual
        |  FROM q GROUP BY source),
        |r AS (
        |  SELECT source,
        |         CAST(FLOOR((qual / MAX(qual) OVER ()) * (qual / MAX(qual) OVER ()) * 10000) AS BIGINT) AS thr
        |  FROM w)
        |SELECT q.source, count(*) AS n_in,
        |       CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM q JOIN r ON q.source = r.source
        |GROUP BY q.source
        |ORDER BY q.source""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      val q = Tables.load(s, dir, "documents").select(
        col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10000")
          .as("bucket"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio"))
      val w = q.groupBy(col("source")).agg(graft.Exact.davg(col("uniq_ratio")).as("qual"))
      val maxq = w.agg(max(col("qual")).as("maxq"))
      val r = w.crossJoin(broadcast(maxq))
        .select(col("source"),
          floor((col("qual") / col("maxq")) * (col("qual") / col("maxq")) * 10000)
            .cast("long").as("thr"))
      q.join(broadcast(r), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("bucket") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },

    // Temperature-based source mixing — the mT5/LLaMA-style multilingual
    // sampler: sources are re-weighted to token-mass^α (α = 0.5) so small
    // sources are up-weighted relative to their natural share. With
    // α = 0.5 the per-source acceptance rate collapses to
    // sqrt(min_mass / mass_s) — the smallest source keeps everything, a
    // source with 4× its tokens keeps half. Acceptance is the same
    // deterministic md5-bucket gate as pipeline_mix_weighted (a pure
    // function of doc_id — rerunning the pipeline keeps the same docs),
    // and α = 0.5 is chosen deliberately: sqrt is IEEE-correctly-rounded
    // on both engines where pow(x, 0.3) is not, so the floor-quantized
    // thresholds are bit-identical by construction. Scale shape: one
    // column-pruned scan for per-source mass (a handful of rows),
    // broadcast back, one pass for the gate — no shuffle of documents.
    Q(
      "pipeline_mix_temperature",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10000 AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |m AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS mass FROM d GROUP BY source),
        |t AS (
        |  SELECT source,
        |         CAST(FLOOR(sqrt(CAST((SELECT MIN(mass) FROM m) AS DOUBLE)
        |                         / CAST(mass AS DOUBLE)) * 10000) AS BIGINT) AS thr
        |  FROM m)
        |SELECT d.source, count(*) AS n_in, MAX(t.thr) AS thr,
        |       CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN bucket < thr THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM d JOIN t ON d.source = t.source
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin
    ) { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(
        col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10000")
          .as("bucket"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val mass = d.groupBy(col("source")).agg(sum(col("toks")).as("mass"))
      val minMass = mass.agg(min(col("mass")).as("min_mass"))
      val thr = mass.crossJoin(broadcast(minMass))
        .select(col("source"),
          floor(sqrt(col("min_mass").cast("double") / col("mass").cast("double")) * 10000)
            .cast("long").as("thr"))
      d.join(broadcast(thr), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_in"),
          max(col("thr")).as("thr"),
          sum(when(col("bucket") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("bucket") < col("thr"), col("toks")).otherwise(lit(0L)))
            .as("kept_tokens"))
        .orderBy(col("source"))
    },

    // Bigram-LM surprise — the 2-gram upgrade of text_lm_surprise's
    // unigram gate: score each document by the mean −ln P(w|prev) of its
    // adjacent-token bigrams under the corpus bigram model with add-1
    // smoothing (P = (c(prev,w)+1) / (c(prev)+|V|)). Training IS the
    // query: two corpus-linear count aggregates (bigram and left-context
    // tables, hash-partitioned on the gram key) + one tiny vocab scalar;
    // scoring joins the model back on the same key, so model build and
    // apply are each one shuffle and the whole thing is the standard
    // distributed n-gram-LM shape. Per-bigram surprise is IEEE-identical
    // double math; per-doc means accumulate through DECIMAL(38,12) and
    // FLOOR-quantize so token order cannot perturb bits.
    Q(
      "text_lm_bigram",
      s"""WITH $oBigramSq
        |SELECT doc_id, n_bigrams, surprise_q
        |FROM sq
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      bigramSurpriseQ(s, dir).orderBy(col("doc_id"))
    },

    // ccnet-style perplexity bucketing (Wenzek et al. 2020): score every
    // doc with the corpus-trained bigram LM, split the corpus into
    // head/middle/tail thirds by score. The tertile THRESHOLDS come from
    // two top-k probes (orderBy+limit → TakeOrderedAndProject, k = n/3
    // smallest scores, no corpus-wide sort), broadcast back as scalars —
    // the 100 TB shape for quantile bucketing: a global ntile window
    // would funnel the whole corpus through one partition. Tie rule:
    // every doc AT a boundary value lands in the lower bucket — a pure
    // function of the score, so both engines agree regardless of
    // physical order.
    Q(
      "pipeline_ppl_buckets",
      s"""WITH $oBigramSq,
        |b1 AS (SELECT max(surprise_q) AS v FROM
        |  (SELECT surprise_q FROM sq ORDER BY surprise_q, doc_id
        |   LIMIT (SELECT CAST((count(*) + 2) // 3 AS BIGINT) FROM sq))),
        |b2 AS (SELECT max(surprise_q) AS v FROM
        |  (SELECT surprise_q FROM sq ORDER BY surprise_q, doc_id
        |   LIMIT (SELECT CAST((2 * count(*) + 2) // 3 AS BIGINT) FROM sq)))
        |SELECT doc_id, surprise_q,
        |       CAST(CASE WHEN surprise_q <= (SELECT v FROM b1) THEN 1
        |                 WHEN surprise_q <= (SELECT v FROM b2) THEN 2
        |                 ELSE 3 END AS BIGINT) AS ppl_bucket
        |FROM sq
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // sq is the SHARED per-(session, corpus) cache — do not persist or
      // unpersist it here: a consumer-side unpersist evicts the shared
      // frame and every later consumer silently rebuilds the whole
      // train+score pipeline (r17 caught this as text_lm_bigram pass-2
      // timings ~10× its cache-read cost). Lifecycle belongs to
      // evictBigramModels alone.
      val sq = bigramSurpriseQ(s, dir)
      val n = bigramCount(s, dir)
      val result =
        // empty scored corpus (no doc has ≥2 tokens): zero rows out,
        // matching the oracle's empty result — never an NPE on max(∅)
        if (n == 0)
          sq.select(col("doc_id"), col("surprise_q"), lit(1L).as("ppl_bucket"))
            .filter(lit(false))
        else {
          val (t1, t2) = tertileBoundaries(sq, (n + 2) / 3, (2 * n + 2) / 3)
          sq.select(col("doc_id"), col("surprise_q"),
              when(col("surprise_q") <= t1, 1L)
                .when(col("surprise_q") <= t2, 2L)
                .otherwise(3L).as("ppl_bucket"))
            .orderBy(col("doc_id"))
        }
      result
    },

    // Repetition FILTER DECISION (Rae et al. 2021 "Gopher" §A.1.1,
    // token-fraction analogue) — the companion to
    // `text_repetition_signals`: signals reports the BIGRAM diagnostics;
    // this operator adds the duplicate-TRIGRAM fraction (share of
    // trigram instances whose trigram occurs more than once in the doc)
    // and renders the keep/drop VERDICT over both n-gram orders, the
    // composite gate a curation pipeline actually applies. Two
    // explode→(doc, gram) groupBy passes + one per-doc aggregate each —
    // corpus-linear, hash-partitioned, the same shape at any scale.
    // Thresholds keep Gopher's structure but sit at this corpus's tail
    // (p90/p99: published web thresholds 0.18/0.30 would flag nothing in
    // synthetic word-salad) so the gate exercises both flag branches.
    Q(
      "text_repetition_gopher",
      """WITH t2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM t2 WHERE len(t) >= 3),
        |tri AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM t2 WHERE len(t) >= 3),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY doc_id, g),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
        |bs AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2,
        |              CAST(SUM(c) AS BIGINT) AS tot2 FROM bc GROUP BY doc_id),
        |ts AS (SELECT doc_id,
        |              CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3,
        |              CAST(SUM(c) AS BIGINT) AS tot3 FROM tc GROUP BY doc_id)
        |SELECT bs.doc_id,
        |       round(CAST(dup3 AS DOUBLE) / tot3, 6) AS dup_trigram_frac,
        |       (CAST(top2 AS DOUBLE) / tot2 > 0.08
        |        OR CAST(dup3 AS DOUBLE) / tot3 > 0.02) AS flagged
        |FROM bs JOIN ts ON bs.doc_id = ts.doc_id
        |ORDER BY bs.doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = Tables.spread(Tables.load(s, dir, "documents"))
      val toksArr = split(col("text"), " ")
      val base = docs.filter(size(toksArr) >= 3)
        .select(col("doc_id"), toksArr.as("t"))
      val big = base.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("g"))
      val tri = base.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("g"))
      val bs = big.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top2"), sum(col("c")).as("tot2"))
      val ts = tri.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"),
          sum(col("c")).as("tot3"))
      bs.join(ts, "doc_id")
        .select(col("doc_id"),
          round(col("dup3").cast("double") / col("tot3"), 6).as("dup_trigram_frac"),
          (col("top2").cast("double") / col("tot2") > 0.08 ||
            col("dup3").cast("double") / col("tot3") > 0.02).as("flagged"))
        .orderBy(col("doc_id"))
    },

    // Hashed linear quality classifier — fastText-style inference: each
    // token hashes into one of 1024 feature buckets (collisions are the
    // point — the feature space is fixed no matter the vocabulary), each
    // bucket carries a fixed weight (here derived from md5 of the bucket
    // id, standing in for trained parameters the way the LSH planes stand
    // in for learned projections), and a document's score is the mean
    // bucket weight of its tokens. This is the inference shape of the
    // model-based quality filters in GPT-3/LLaMA-style pipelines
    // (classifier trained offline, applied corpus-wide). Plan: the whole
    // score is ONE higher-order-function expression per row — hash,
    // weight lookup and decimal-exact accumulation all inside
    // transform/aggregate — so scoring is a narrow codegen-adjacent map
    // with NO explode, NO join against a weight table (weights are a pure
    // function of the bucket) and no shuffle before the final ORDER BY.
    // Corpus-linear at any scale; the oracle replays the identical hash
    // and decimal arithmetic by explode-and-aggregate.
    Q(
      "text_hashed_classifier",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |feats AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 1024 AS bkt
        |  FROM toks),
        |weighted AS (
        |  SELECT doc_id,
        |         (CAST(('0x' || substring(md5(CAST(bkt AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000)
        |           / 1000.0 AS w
        |  FROM feats),
        |s AS (
        |  SELECT doc_id,
        |         CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS sw,
        |         COUNT(*) AS n_tokens
        |  FROM weighted GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sw / n_tokens AS score, sw >= 0 AS accept
        |FROM s ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // bucket → weight is deterministic arithmetic on md5, identical to
      // the oracle's: 8 hex digits of md5(token) pick the bucket, 15 hex
      // digits of md5(bucket) pick a weight in [-1, 1] at 1/1000 steps
      val sw = expr(
        """CAST(aggregate(
          |  transform(split(text, ' '), t ->
          |    CAST((CAST(conv(substring(md5(CAST(
          |           CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1024
          |         AS STRING)), 1, 15), 16, 10) AS BIGINT) % 2001 - 1000) / 1000.0
          |      AS DECIMAL(28,12))),
          |  CAST(0 AS DECIMAL(28,12)),
          |  (acc, x) -> CAST(acc + x AS DECIMAL(28,12))) AS DOUBLE)""".stripMargin)
      Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          sw.as("sw"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sw") / col("n_tokens")).as("score"),
          (col("sw") >= 0).as("accept"))
        .orderBy(col("doc_id"))
    },

    // BPE merge-candidate counting — the inner loop of tokenizer
    // training: adjacent character-pair frequencies across the corpus,
    // top 50 merge candidates. Scale shape is the classic BPE trick:
    // count on the DISTINCT word histogram weighted by word frequency,
    // not on the raw corpus — the corpus is touched exactly once (one
    // hash aggregate to the word histogram, linear); everything after is
    // VOCAB-sized (|V| << corpus at 100 TB), so pair extraction and the
    // merge-candidate aggregate cost the same whether the corpus is 1 GB
    // or 100 TB. Pairs come from substring(w, i, 2) — identical
    // arithmetic in both engines, no char-split edge cases.
    Q(
      "pipeline_bpe_merges",
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair,
        |         cnt
        |  FROM wc WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq
        |FROM pairs GROUP BY pair
        |ORDER BY freq DESC, pair
        |LIMIT 50""".stripMargin
    ) { (s, dir) =>
      val words = Tables.spread(Tables.load(s, dir, "documents"))
        .select(explode(split(col("text"), " ")).as("w"))
      val wc = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      wc.filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(50)
    },

    // Full BPE training loop (12 merge rounds) — see [[bpeTrain]] for
    // the double-separator encoding that makes each distributed merge
    // application EXACTLY greedy and lets the oracle unroll the same
    // rounds declaratively. The trained merge table (rank, pair, freq)
    // is the output artifact, exactly what a tokenizer build emits.
    Q("pipeline_bpe_train", bpeOracle(12)) { (s, dir) => bpeTrain(s, dir, 12) },

    // Quality-classifier TRAINING (the inference surface's missing twin)
    // — 8 full-batch logistic-regression steps over hashed features; the
    // output is the 65-row weight table an inference pass consumes. See
    // [[classifierTrain]] for the grid-quantized exactness argument.
    Q("text_classifier_train", classifierOracle(8)) { (s, dir) =>
      classifierTrain(s, dir, 8)
    },

    // Train-then-INFER end to end: the trained model scores the corpus
    // (the daily quality-gate pass); per-doc exact margin + accept bit.
    // The 65-row weight collect between the halves is the k-means
    // centroid pattern — parameters come back, corpus data never does.
    Q("text_classifier_infer", classifierInferOracle(8)) { (s, dir) =>
      classifierScore(s, dir, classifierWeights(s, dir, 8)).orderBy(col("doc_id"))
    },

    // Train-then-encode: the trained merge table applied corpus-wide —
    // per-doc whitespace-word and BPE-token counts. See [[bpeEncode]]
    // for the vocab-sized encode + join-back scale shape and
    // [[bpeEncodeOracle]] for the word-carrying oracle chain.
    Q("pipeline_bpe_encode", bpeEncodeOracle(12)) { (s, dir) => bpeEncode(s, dir, 12) },

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // the hashed-ngram data-selection method behind several public LLM
    // corpora): score every raw document by how much its hashed-bigram
    // distribution looks like a TARGET corpus (here: the English slice)
    // versus the raw pool, then keep the top-scoring docs. Features are
    // hashed bigrams in B=256 buckets (feature hashing is a MODEL
    // dimension, fixed by design — collisions are part of the estimator,
    // so unlike IVF's nlist it must NOT grow with the corpus); bucket
    // log-ratios λ(b) = ln p̂_target(b) − ln p̂_raw(b) use Laplace
    // smoothing and are quantized via floor(λ·1e9) → BIGINT (the same
    // IEEE multiply+floor on both engines — the psi_q/odds_q discipline;
    // identical doubles always give identical integers, unlike a
    // decimal CAST whose HALF_UP rounding differs from DuckDB's
    // double-multiply round) so the per-doc sum Σ count(b)·λ_q(b) folds
    // order-independently in exact long arithmetic and bit-matches the
    // oracle. Residual cross-engine exposure: λ itself comes from ln(),
    // and neither JVM Math.log nor DuckDB's libm is correctly rounded —
    // a 1-ulp disagreement on a λ landing within ~1 ulp of an exact
    // 1e-9 grid boundary would flip that bucket's lam_q by 1. The grid
    // makes the exposure QUANTIFIABLE (only λ within 1 ulp of a
    // boundary is at risk — for |λ|<10, ~2⁻²⁹ of the double line per
    // bucket, ~B·2⁻²⁹ ≈ 5e-7 per corpus) rather than impossible; if a
    // fixture ever lands on it, the fix is computing λ from integer
    // counts via a shared formulation (log1p of exact ratios) or a
    // weight_q tolerance, not a wider float. Scale shape: one corpus pass builds the bucket counts
    // (shuffle state = B rows), the λ model is B rows broadcast back,
    // and scoring is a second corpus pass + per-doc partial agg — the
    // model never leaves executor memory, the corpus never funnels.
    Q(
      "pipeline_dsir",
      """WITH toks AS (
        |  SELECT doc_id, source, lang, string_split(text, ' ') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(t)),
        |                i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |bk AS (
        |  SELECT doc_id, lang,
        |         CAST(('0x' || substring(md5(g), 1, 6)) AS BIGINT) % 256 AS b
        |  FROM bi),
        |rc AS (SELECT b, COUNT(*) AS cr FROM bk GROUP BY b),
        |tc AS (SELECT b, COUNT(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
        |nt AS (SELECT COUNT(*) AS n FROM bk WHERE lang = 'en'),
        |nr AS (SELECT COUNT(*) AS n FROM bk),
        |lam AS (
        |  SELECT rc.b,
        |         CAST(floor((ln((COALESCE(tc.ct, 0) + 1.0) / ((SELECT n FROM nt) + 256.0))
        |                   - ln((rc.cr + 1.0) / ((SELECT n FROM nr) + 256.0)))
        |                  * 1000000000) AS BIGINT) AS lam_q
        |  FROM rc LEFT JOIN tc ON tc.b = rc.b),
        |wt AS (
        |  SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(lam.lam_q) AS BIGINT) AS weight_q
        |  FROM bk JOIN lam ON lam.b = bk.b
        |  GROUP BY bk.doc_id)
        |SELECT t.doc_id, t.source, t.lang, wt.n_bigrams, wt.weight_q
        |FROM wt JOIN toks t ON t.doc_id = wt.doc_id
        |ORDER BY wt.weight_q DESC, t.doc_id
        |LIMIT 100""".stripMargin
    ) { (s, dir) =>
      val B = 256
      val docs = Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("lang"),
          split(col("text"), " ").as("t"))
      val bk = docs.filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("g"))
        .select(col("doc_id"), col("lang"), expr(
          s"CAST(conv(substring(md5(g), 1, 6), 16, 10) AS BIGINT) % $B").as("b"))
        .persist()
      val rc = bk.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tc = bk.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val nt = bk.filter(col("lang") === "en")
        .agg(count(lit(1)).cast("double").as("n_t"))
      val nr = bk.agg(count(lit(1)).cast("double").as("n_r"))
      val lam = rc.join(tc, Seq("b"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
        .select(col("b"),
          floor((log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("n_t") + B))
            - log((col("cr") + 1.0) / (col("n_r") + B))) * 1000000000L)
            .cast("long").as("lam_q"))
      val wt = bk.join(broadcast(lam), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lam_q")).as("weight_q"))
      val result = wt.join(docs.select(col("doc_id"), col("source"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_bigrams"), col("weight_q"))
        .orderBy(col("weight_q").desc, col("doc_id"))
        .limit(100)
        .localCheckpoint(true)
      bk.unpersist()
      result
    },

    // Data-quality expectations sweep — the dbt-tests / Great
    // Expectations shape a pipeline runs before training on a corpus:
    // uniqueness, non-null/non-empty, derived-column consistency, value
    // domains, timestamp sanity. Scale shape: ONE conditional-aggregate
    // scan per table (every check is a SUM(CASE) or COUNT DISTINCT in
    // the same agg — k checks never cost k scans), unpivoted into a
    // (check, rows, violations, pass) report small enough to alert on.
    Q(
      "pipeline_expectations",
      """WITH d AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS text_empty,
        |         CAST(SUM(CASE WHEN n_chars <> length(text)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nchars_bad,
        |         CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS dup_ids,
        |         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS src_null
        |  FROM documents),
        |e AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         -- NULL is a violation for every check (a NULL NOT IN /
        |         -- range comparison is NULL, which a bare SUM(CASE) would
        |         -- count as PASSING — waving through exactly the malformed
        |         -- rows the check exists to catch)
        |         CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
        |                       ('view', 'click', 'purchase', 'signup', 'error')
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS type_bad,
        |         CAST(SUM(CASE WHEN value IS NULL OR value < 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS val_bad,
        |         CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS dup_ids,
        |         CAST(SUM(CASE WHEN ts IS NULL
        |                         OR CAST(ts AS TIMESTAMP) < TIMESTAMP '2020-01-01'
        |                         OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2030-01-01'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS ts_bad
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'documents.doc_id_unique' AS check_name, n AS n_rows,
        |         dup_ids AS n_violations, dup_ids = 0 AS pass FROM d
        |  UNION ALL SELECT 'documents.n_chars_consistent', n, nchars_bad,
        |         nchars_bad = 0 FROM d
        |  UNION ALL SELECT 'documents.source_nonnull', n, src_null,
        |         src_null = 0 FROM d
        |  UNION ALL SELECT 'documents.text_nonempty', n, text_empty,
        |         text_empty = 0 FROM d
        |  UNION ALL SELECT 'events.event_id_unique', n, dup_ids,
        |         dup_ids = 0 FROM e
        |  UNION ALL SELECT 'events.event_type_in_domain', n, type_bad,
        |         type_bad = 0 FROM e
        |  UNION ALL SELECT 'events.ts_in_range', n, ts_bad, ts_bad = 0 FROM e
        |  UNION ALL SELECT 'events.value_nonnegative', n, val_bad,
        |         val_bad = 0 FROM e
        |) t ORDER BY check_name""".stripMargin
    ) { (s, dir) =>
      def viol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(when(c, 1L).otherwise(0L)).cast("long")
      val d = Tables.load(s, dir, "documents").agg(
        count(lit(1)).as("n"),
        viol(col("text").isNull || length(col("text")) === 0).as("text_empty"),
        viol(col("n_chars") =!= length(col("text"))).as("nchars_bad"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_ids"),
        viol(col("source").isNull).as("src_null"))
      val e = Tables.load(s, dir, "events").agg(
        count(lit(1)).as("n"),
        viol(col("event_type").isNull ||
          !col("event_type").isin("view", "click", "purchase", "signup", "error"))
          .as("type_bad"),
        viol(col("value").isNull || col("value") < 0).as("val_bad"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("dup_ids"),
        viol(col("ts").isNull ||
          col("ts") < lit("2020-01-01").cast("timestamp") ||
          col("ts") >= lit("2030-01-01").cast("timestamp")).as("ts_bad"))
      // ONE aggregate row per table exploded into its check rows — a
      // union of per-check selects would defeat exchange reuse (column
      // pruning makes each branch's agg subtree differ) and re-scan the
      // table once per check
      def chk(name: String, c: String) =
        struct(lit(name).as("check_name"), col("n").as("n_rows"),
          col(c).as("n_violations"), (col(c) === 0).as("pass"))
      def report(agg: org.apache.spark.sql.DataFrame,
          checks: Seq[(String, String)]) =
        agg.select(explode(array(checks.map { case (nm, c) => chk(nm, c) }: _*))
          .as("c")).select(col("c.*"))
      report(d, Seq(
          "documents.doc_id_unique" -> "dup_ids",
          "documents.n_chars_consistent" -> "nchars_bad",
          "documents.source_nonnull" -> "src_null",
          "documents.text_nonempty" -> "text_empty"))
        .union(report(e, Seq(
          "events.event_id_unique" -> "dup_ids",
          "events.event_type_in_domain" -> "type_bad",
          "events.ts_in_range" -> "ts_bad",
          "events.value_nonnegative" -> "val_bad")))
        .orderBy(col("check_name"))
    },

    // Length-bucket batching profile — the batch-shape planning step for
    // training: bucket documents by token length (8 buckets of 16, last
    // open-ended), and report per bucket the doc count, token mass, the
    // bucket's max length (= the padded sequence length) and the padding
    // waste count(*)·max − sum a batcher padding to bucket-max would
    // burn. One narrow scan + one tiny aggregate — corpus-linear,
    // row-local bucketing, no shuffle beyond the 8-group aggregate.
    Q(
      "pipeline_length_buckets",
      """WITH sized AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(LEAST(n_tokens // 16, 7) AS BIGINT) AS bucket
        |  FROM sized)
        |SELECT bucket, count(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
        |       CAST(count(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
        |FROM b GROUP BY bucket
        |ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      val sized = Tables.load(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      sized
        .withColumn("bucket", least(floor(col("n_tokens") / 16), lit(7)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          max(col("n_tokens")).cast("long").as("max_tokens"),
          (count(lit(1)) * max(col("n_tokens")) - sum(col("n_tokens")))
            .cast("long").as("padding_waste"))
        .orderBy(col("bucket"))
    },

    // Source/domain frequency capping — the Common-Crawl-style curation
    // step that bounds any one domain's share of the corpus: rank docs
    // WITHIN each source by a quality proxy and keep the top K. The
    // window partitions by source, so at 100 TB this is a per-domain
    // local sort (no global ordering anywhere); the per-source rollup
    // keeps the output domain-sized, not corpus-sized.
    Q(
      "pipeline_source_cap",
      """WITH q AS (
        |  SELECT source, doc_id,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, quality,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY quality DESC, doc_id) AS rn
        |  FROM q)
        |SELECT source,
        |       count(*) AS n_docs,
        |       CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       MIN(CASE WHEN rn <= 15 THEN quality END) AS cut_quality
        |FROM r GROUP BY source
        |ORDER BY source""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val q = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      q.withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 15, 1L).otherwise(0L)).cast("long").as("n_kept"),
          min(when(col("rn") <= 15, col("quality"))).as("cut_quality"))
        .orderBy(col("source"))
    },

    // Vocabulary coverage curve — how much of the token stream the top-k
    // vocabulary entries cover (the tokenizer-budget question). The
    // corpus-sized work is one word-frequency aggregate (map-side
    // partial); the top-25 cut is a TakeOrdered, and the cumulative
    // window then runs over 25 rows — bounded by construction, so the
    // single-partition window is NOT a scale hazard.
    Q(
      "text_vocab_coverage",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY word),
        |tot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f),
        |top AS (SELECT word, freq FROM f ORDER BY freq DESC, word LIMIT 25)
        |SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank,
        |       word, freq,
        |       CAST(SUM(freq) OVER (ORDER BY freq DESC, word
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         / (SELECT total FROM tot) AS cum_share
        |FROM top
        |ORDER BY rank""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
      val freq = toks.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // corpus token count from the vocab-sized freq table (Σ freq), not
      // a second full explode — same derivation as text_lm_surprise
      val total = freq.agg(sum(col("freq")).cast("double").as("total"))
      val top = freq.orderBy(col("freq").desc, col("word")).limit(25)
      val ord = Window.orderBy(col("freq").desc, col("word"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .select(row_number().over(ord).as("rank"), col("word"), col("freq"),
          (sum(col("freq")).over(cum).cast("double") / col("total")).as("cum_share"))
        .orderBy(col("rank"))
    },

    // Cross-source vocabulary overlap — pairwise Jaccard between each
    // source's distinct-word set, the "how redundant are my crawl
    // domains" diagnostic. Pair discovery joins the (source, word)
    // inverted index on word, so the work per word is bounded by
    // sources², never corpus² — linear in vocabulary size for a fixed
    // domain count; set sizes join back via two broadcasts.
    Q(
      "text_source_overlap",
      """WITH sv AS (
        |  SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS word
        |    FROM documents)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words FROM sv GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common,
        |       CAST(n_common AS DOUBLE)
        |         / (za.n_words + zb.n_words - n_common) AS jaccard
        |FROM inter
        |JOIN sz za ON za.source = src_a
        |JOIN sz zb ON zb.source = src_b
        |WHERE n_common >= 10
        |ORDER BY src_a, src_b""".stripMargin
    ) { (s, dir) =>
      val sv = Tables.load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .distinct()
      val sz = sv.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_words"))
      val a = sv.select(col("source").as("src_a"), col("word"))
      val b = sv.select(col("source").as("src_b"), col("word").as("word_b"))
      val inter = a.join(b, col("word") === col("word_b") && col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      inter
        .join(broadcast(sz.select(col("source").as("src_a"), col("n_words").as("za"))), "src_a")
        .join(broadcast(sz.select(col("source").as("src_b"), col("n_words").as("zb"))), "src_b")
        .filter(col("n_common") >= 10)
        .select(col("src_a"), col("src_b"), col("n_common"),
          (col("n_common").cast("double") / (col("za") + col("zb") - col("n_common")))
            .as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // Quality-filter calibration sweep — the kept-volume curve a data
    // engineer reads before picking the curation threshold. The quality
    // grade is computed once per doc (corpus-linear); the 5-row
    // threshold grid broadcasts against it, so the sweep costs one
    // extra narrow stage, not five corpus passes.
    Q(
      "pipeline_filter_sweep",
      """WITH graded AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')))
        |    + 0.4 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                                        t -> t IN ('a','the'))) AS DOUBLE)
        |                   / len(string_split(text, ' ')))
        |    + CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 90
        |           THEN 0.2 ELSE 0.0 END AS quality
        |  FROM documents),
        |thr AS (SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[])) AS thr)
        |SELECT thr,
        |       CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN quality >= thr THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |       CAST(SUM(CASE WHEN quality >= thr THEN n_tokens ELSE 0 END) AS DOUBLE)
        |         / SUM(n_tokens) AS kept_frac
        |FROM graded CROSS JOIN thr
        |GROUP BY thr ORDER BY thr""".stripMargin
    ) { (s, dir) =>
      val toks = split(col("text"), " ")
      val graded = Tables.load(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"),
          (lit(0.4) * (size(array_distinct(toks)).cast("double") / size(toks)) +
            lit(0.4) * (lit(1.0) -
              size(filter(toks, t => t.isin("a", "the"))).cast("double") / size(toks)) +
            when(size(toks).between(20, 90), 0.2).otherwise(0.0)).as("quality"))
      val thr = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      import s.implicits._
      graded.crossJoin(broadcast(thr.toDF("thr")))
        .groupBy(col("thr"))
        .agg(
          sum(when(col("quality") >= col("thr"), 1L).otherwise(0L))
            .cast("long").as("n_kept"),
          sum(when(col("quality") >= col("thr"), col("n_tokens")).otherwise(0L))
            .cast("long").as("kept_tokens"),
          (sum(when(col("quality") >= col("thr"), col("n_tokens")).otherwise(0L))
            .cast("double") / sum(col("n_tokens"))).as("kept_frac"))
        .orderBy(col("thr"))
    },

    // Distribution drift (PSI) between two deterministic cohorts of the
    // corpus (doc_id parity stands in for "yesterday's crawl vs
    // today's") — the data-quality monitor that catches a source mix
    // shift. One conditional-sum aggregate per word (no join between
    // cohorts), scalar totals broadcast; the PSI term is quantized via
    // the repo's FLOOR(x*1e9) convention so the transcendental LN cannot
    // hash-split engines. Words seen in only one cohort are excluded
    // (n0>0 AND n1>0) to keep LN finite.
    Q(
      "text_dist_drift",
      """WITH toks AS (
        |  SELECT doc_id % 2 AS cohort, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |c AS (
        |  SELECT word,
        |         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM toks GROUP BY word),
        |tot AS (
        |  SELECT CAST(SUM(n0) AS DOUBLE) AS t0, CAST(SUM(n1) AS DOUBLE) AS t1 FROM c)
        |SELECT word, n0, n1,
        |       CAST(FLOOR((n0 / t0 - n1 / t1) * LN((n0 / t0) / (n1 / t1))
        |                  * 1000000000) AS BIGINT) AS psi_q
        |FROM c CROSS JOIN tot
        |WHERE n0 > 0 AND n1 > 0
        |ORDER BY word""".stripMargin
    ) { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select((col("doc_id") % 2).as("cohort"),
          explode(split(col("text"), " ")).as("word"))
      val c = toks.groupBy(col("word"))
        .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).cast("long").as("n0"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).cast("long").as("n1"))
      val tot = c.agg(sum(col("n0")).cast("double").as("t0"),
        sum(col("n1")).cast("double").as("t1"))
      val p = col("n0") / col("t0")
      val q = col("n1") / col("t1")
      c.crossJoin(broadcast(tot))
        .filter(col("n0") > 0 && col("n1") > 0)
        .select(col("word"), col("n0"), col("n1"),
          floor((p - q) * log(p / q) * 1000000000L).cast("long").as("psi_q"))
        .orderBy(col("word"))
    },

    // Distinctive terms per source — informative-Dirichlet log-odds
    // (Monroe et al.'s "Fightin' Words" with a flat 0.5 prior): which
    // words over-index in each domain vs the rest of the corpus. The
    // corpus-sized work is the (source, word) count aggregate; word
    // totals join back on word (shuffle join — vocab can be large),
    // per-source totals broadcast (domain-count sized), and the top-3
    // cut per source is a PARTITIONED window, never a global sort.
    Q(
      "text_distinctive_terms",
      """WITH sw AS (
        |  SELECT source, word, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  GROUP BY source, word),
        |st AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t_src FROM sw GROUP BY source),
        |wt AS (SELECT word, CAST(SUM(n) AS BIGINT) AS t_word FROM sw GROUP BY word),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t_all FROM sw),
        |scored AS (
        |  SELECT sw.source, sw.word, sw.n,
        |         CAST(FLOOR((LN((sw.n + 0.5) / (st.t_src - sw.n + 0.5))
        |                   - LN((wt.t_word - sw.n + 0.5)
        |                        / (tot.t_all - st.t_src - wt.t_word + sw.n + 0.5)))
        |                   * 1000000) AS BIGINT) AS odds_q
        |  FROM sw JOIN st ON sw.source = st.source
        |          JOIN wt ON sw.word = wt.word
        |          CROSS JOIN tot),
        |ranked AS (
        |  SELECT source, word, n, odds_q,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY odds_q DESC, word) AS rn
        |  FROM scored)
        |SELECT source, word, n, odds_q
        |FROM ranked WHERE rn <= 3
        |ORDER BY source, odds_q DESC, word""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sw = Tables.load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).cast("long").as("n"))
      val st = sw.groupBy(col("source")).agg(sum(col("n")).cast("long").as("t_src"))
      val wt = sw.groupBy(col("word")).agg(sum(col("n")).cast("long").as("t_word"))
      val tot = sw.agg(sum(col("n")).cast("long").as("t_all"))
      val inSrc = (col("n") + 0.5) / (col("t_src") - col("n") + 0.5)
      val inRest = (col("t_word") - col("n") + 0.5) /
        (col("t_all") - col("t_src") - col("t_word") + col("n") + 0.5)
      val scored = sw
        .join(broadcast(st), "source")
        .join(wt, "word")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("word"), col("n"),
          floor((log(inSrc) - log(inRest)) * 1000000L).cast("long").as("odds_q"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("odds_q").desc, col("word"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("word"), col("n"), col("odds_q"))
        .orderBy(col("source"), col("odds_q").desc, col("word"))
    },

    // Per-document unigram entropy — the information-density quality
    // signal (low entropy = template/repetition spam, degenerate docs;
    // pairs with text_repetition_signals' surface n-gram view). One
    // corpus-linear token explode, per-doc distribution is doc-bounded;
    // the entropy fold follows the repo's log-determinism discipline:
    // per-term -p·ln(p) is identical IEEE ops on both engines, the SUM
    // accumulates through DECIMAL(38,12), and the result is
    // FLOOR-quantized at 1e6 so a last-ulp wobble cannot flip a bit in
    // the compare.
    Q(
      "text_token_entropy",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(FLOOR((LN(CAST(SUM(c) AS DOUBLE))
        |           - CAST(SUM(CAST(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
        |                 AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(SUM(c) AS DOUBLE)) * 1000000) AS BIGINT)
        |         AS entropy_q
        |FROM wc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // Entropy via the identity H = ln N − (Σ c·ln c)/N: the naive
      // −Σ p·ln p form needs per-doc totals BEFORE the per-term math, so
      // it either joins wc back to a per-doc aggregate (recomputing the
      // explode+groupBy subtree twice — the pre-round-11 shape) or
      // windows over doc_id (extra exchange+sort). The identity needs
      // only Σc and Σ c·ln c — both plain aggregates of the SAME
      // groupBy, so the whole query is explode → (doc,w) count → doc
      // rollup: two shuffles, one pass, no join. The c·ln c terms sum
      // through DECIMAL(38,12) so the fold is order-independent and the
      // oracle replays it bit-identically.
      val wc = Tables.spread(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
      val cD = col("c").cast("double")
      wc.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum((cD * log(cD)).cast(DecimalType(38, 12))).cast("double").as("clnc"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          floor((log(col("n_tokens").cast("double"))
            - col("clnc") / col("n_tokens").cast("double")) * 1e6)
            .cast("long").as("entropy_q"))
        .orderBy(col("doc_id"))
    }
  )
}
