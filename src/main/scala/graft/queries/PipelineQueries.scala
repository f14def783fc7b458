package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{AsOfJoin, BpeOps, CorpusPipeline, DedupOps, IncrementalCorpus, LayoutOps, MediaGen, MixOps, ModelOps, MultimodalOps, OracleSql, PackOps, PiiOps, PrefOps, RangeJoin, SampleOps, SearchOps, Sessionize, ShardOps, SimilarityOps, SketchOps, TextOps, TimeSeriesOps, TokenizerEval}

/** LLM-training-data pipeline operators as driver-contract queries
  * (dedup family, similarity search, text analysis, multimodal plumbing).
  * Oracle SQL is provided wherever DuckDB can express the same semantics;
  * hash-based ops (minhash/simhash/rolling fingerprint/LSH) get rows-only
  * checks plus ScalaTest coverage.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  val NearDupTau = 0.5
  val EmbDupTau = 0.45
  /** p86's fixed query — mixed-frequency terms over the synthetic
    * corpus vocabulary so idf/tf both differentiate. */
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "stream")
  /** p87's query batch (the posting-list face): overlapping
    * vocabularies and differing lengths exercise the per-qid ranks. */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "vector"),
    2 -> Seq("stream", "batch", "join"),
    3 -> Seq("customer", "query"),
    4 -> Seq("hash"))

  val queries: Map[String, Q] = Map(
    // ---- exact dedup (hash group-by; single shuffle) ----
    "p01_dedup_exact" -> ((s, dir) => {
      DedupOps.exactGroups(Tables.load(s, dir, "documents"))
        .orderBy(col("h"))
    }),

    // ---- n-gram Jaccard near-dup pairs (inverted-index join;
    //      loadSpread: the single-file scan would otherwise tokenize +
    //      shingle the whole corpus in ONE task before the first
    //      exchange) ----
    "p02_ngram_jaccard" -> ((s, dir) => {
      DedupOps.ngramJaccardPairs(Tables.loadSpread(s, dir, "documents"), NearDupTau)
        .select(col("da"), col("db"), round(col("j"), 6).as("j"))
        .orderBy(col("da"), col("db"))
    }),

    // ---- MinHash+LSH near-dup pairs, exact-verified (same oracle:
    //      banded 16×4 signatures make a miss at j≥0.9 ~4e-8;
    //      loadSpread as p02) ----
    "p03_minhash_lsh" -> ((s, dir) => {
      // routing stats from the per-snapshot probe (VERDICT r9 #6) —
      // the production catalog-stats pattern; same route, same output
      DedupOps.minHashPairs(Tables.loadSpread(s, dir, "documents"), NearDupTau,
          knownMaxDup = Some(dupStatsFor(s, dir)._2))
        .select(col("da"), col("db"), round(col("j"), 6).as("j"))
        .orderBy(col("da"), col("db"))
    }),

    // ---- SimHash signatures (md5-derived 60-bit hash → oracle-checked;
    //      loadSpread: the per-token md5 map dominates, spread it wide) ----
    "p04_simhash" -> ((s, dir) => {
      DedupOps.simHashSignatures(Tables.loadSpread(s, dir, "documents"))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // ---- embedding-cosine near-dup pairs ----
    "p05_embedding_neardup" -> ((s, dir) => {
      DedupOps.embeddingNearDupPairs(Tables.load(s, dir, "embeddings"), EmbDupTau)
        .select(col("va"), col("vb"), round(col("sim"), 4).as("sim"))
        .orderBy(col("va"), col("vb"))
    }),

    // ---- brute-force cosine top-10 for query vectors vec_id<5 ----
    "p06_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- LSH-bucketed ANN (scale path; oracle-checked: DuckDB rebuilds
    // the sign-bit buckets + Hamming-1 probe from the same constants) ----
    "p07_ann_lsh" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val planes = SimilarityOps.adaptivePlanes(embRowsFor(s, dir))
      lshPlanes.set(planes)
      SimilarityOps.annTopK(emb, emb.filter(col("vec_id") < 5), 10, 64, planes)
        .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- IVF ANN (k-means cells, data-adaptive scale path). Oracle-
    //      checked: the trained centroids are cached here and rendered
    //      into the DuckDB SQL below, so assignment + probe + rank
    //      replay in SQL (recall + exactness-at-full-probe also spec'd).
    "p13_ann_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      ivfCenters.set(km.clusterCenters.map(_.toArray))
      SimilarityOps.ivfTopKWith(km, assigned, emb.filter(col("vec_id") < 5), 10,
        nprobe = 4)
        .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- token counting + set fingerprint (regex+md5-bound map;
    //      loadSorted: sort first so range sampling never re-runs it) ----
    "p08_text_stats" -> ((s, dir) => {
      Tables.loadSorted(s, dir, "documents", col("doc_id")).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_chars2"),
        TextOps.setFingerprint(col("text")).as("fp"))
    }),

    // ---- language ID + quality score. Two projections on purpose: the
    //      lexicon sweeps materialize as columns once, then the argmax /
    //      quality read attributes — inline sweeps inside the CASE would
    //      re-run per branch (no subexpr elimination there), ~3× the work.
    //      StopLex IS the en lexicon, so quality reuses that sweep. ----
    "p09_lang_quality" -> ((s, dir) => {
      val scores = TextOps.langScores(col("text"))
      Tables.loadSorted(s, dir, "documents", col("doc_id"))
        .select(Seq(col("doc_id"), col("text")) ++
          scores.map { case (l, c) => c.as(s"__h_$l") }: _*)
        .select(
          col("doc_id"),
          TextOps.langIdFromScores(
            TextOps.LangNames.map(l => l -> col(s"__h_$l"))).as("lang_pred"),
          TextOps.qualityScoreWith(col("text"), col("__h_en")).as("quality"))
    }),

    // ---- multimodal binary plumbing (column-op stats; oracle-checked) ----
    "p10_mm_stats" -> ((s, dir) => {
      MultimodalOps.assetStats(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal REAL decode via mapPartitions: deterministic PNG /
    //      WAV / animated-GIF bytes are synthesized per doc (MediaGen),
    //      then decoded by the REAL JDK codecs (ImageIO, javax.sound,
    //      ImageIO frame reader). Oracle-checked: the constructions make
    //      decode(synthesize(doc_id)) exact integer arithmetic + one
    //      IEEE division (and sqrt) that DuckDB replays bit-for-bit.
    //      loadSpread: codec work dominates, fan it out ----
    "p11_mm_decode" -> ((s, dir) => {
      MultimodalOps.decodeFeatures(
        MediaGen.syntheticAssets(Tables.loadSpread(s, dir, "documents")))
        .select(col("doc_id"), col("width"), col("height"),
          col("features")(0).cast("double").as("f0"),
          col("features")(7).cast("double").as("f7"))
        .orderBy(col("doc_id"))
    }),

    // ---- order-sensitive rolling-hash fingerprint (md5 chain → oracle;
    //      the chained md5 per token is the costliest map here) ----
    "p12_rolling_fp" -> ((s, dir) => {
      Tables.loadSorted(s, dir, "documents", col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__w"))
        .select(col("doc_id"), TextOps.rollingFingerprintOf(col("__w")).as("rfp"))
    }),

    // ---- Gopher/C4-style repetition filters (dup-word / top-bigram /
    //      dup-trigram fractions + keep gate; oracle-checked).
    //      loadSpread: the per-doc gram builds + sorted-run fold dominate
    //      — a single-file scan would fold the whole corpus in ONE task ----
    "p14_repetition_filters" -> ((s, dir) => {
      TextOps.repetitionStats(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- as-of join: per event-type, attach the latest even-id event
    //      at-or-before each odd-id event. One keyed shuffle + window
    //      carry (AsOfJoin); DuckDB's native ASOF JOIN is the oracle ----
    "p16_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      // µs-truncated ns on BOTH sides: DuckDB reads TIMESTAMP_NS at µs,
      // and as-of compares times, so sub-µs ns would flip same-µs ties
      val tUs = eventTsUs
      val l = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id").as("l_id"), col("event_type").as("etype"),
          tUs.as("lts"))
      // right side deduped per (etype, ts) so the match is deterministic
      val r = ev.filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type").as("etype"), tUs.as("rts"))
        .agg(min("event_id").as("r_id"),
          min_by(col("value"), col("event_id")).as("rv"))
      AsOfJoin.asof(l, r, key = "etype",
        leftTime = "lts", rightTime = "rts", rightCols = Seq("r_id", "rv"))
        .select(col("l_id"), col("etype"), col("lts"), col("r_id"),
          round(col("rv"), 4).as("rv"))
        .orderBy(col("l_id"))
    }),

    // ---- bucketed range join: odd-id events (points) vs 1-hour
    //      intervals opened by even-id events; equi-join on (etype,
    //      bucket) replaces the cartesian BETWEEN join. Oracle: plain
    //      inequality join (fine at oracle scale) ----
    "p17_range_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val tUs = eventTsUs
      val p = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id").as("p_id"), col("event_type").as("etype"), tUs.as("t"))
      val iv = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").as("iv_id"), col("event_type").as("etype"),
          tUs.as("s0"), (tUs + lit(IntervalNs)).as("e0"))
      val matches = RangeJoin.pointInInterval(
        p, iv, key = "etype", pointTime = "t", ivStart = "s0", ivEnd = "e0",
        bucketNs = IntervalNs)
      val agg = matches.groupBy("p_id")
        .agg(count(lit(1)).as("n_cover"), min("iv_id").as("first_iv"))
      p.join(agg, Seq("p_id"), "left")
        .select(col("p_id"), col("etype"), col("t"),
          coalesce(col("n_cover"), lit(0L)).as("n_cover"), col("first_iv"))
        .orderBy(col("p_id"))
    }),

    // ---- gap-based sessionization (30 min silence splits; per-session
    //      rollup). One keyed window + one partial-agged groupBy ----
    "p18_sessionize" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type").as("etype"),
          eventTsUs.as("t"))
      Sessionize.sessionize(ev, key = "etype", timeCol = "t",
        tieCol = "event_id", gapNs = SessionGapNs)
        .groupBy(col("etype"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"), min("t").as("t_start"), max("t").as("t_end"))
        .orderBy(col("etype"), col("session_seq"))
    }),

    // ---- deterministic source-weighted sampling: md5-bucketed keep
    //      decision is a pure function of doc_id (partitioning/rerun
    //      invariant, oracle-checkable); sources get different rates —
    //      the training-mix use case. Map-only, zero shuffle ----
    "p19_hash_sample" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 3).as("source"),
          SampleOps.hashBucket(col("doc_id")).as("bucket"))
        .filter(col("bucket") < when(col("source") === 0, 1000L)
          .when(col("source") === 1, 500L).otherwise(250L))
        .orderBy(col("doc_id"))
    }),

    // ---- duplicate-cluster resolution: near-dup pairs → connected
    //      components (large-star/small-star, O(log n) rounds) → one
    //      canonical keeper per cluster; singletons keep themselves.
    //      Oracle: recursive-CTE transitive closure ----
    "p20_dedup_cluster" -> ((s, dir) => {
      // p20 IS the cluster-map build: first consumer in a session pays
      // the pair join + CC once, everyone else reads the parquet artifact
      clusterMapFor(s, dir).orderBy(col("doc_id"))
    }),

    // ---- salient-term extraction: top-3 terms per doc by the exact-
    //      rational TF-IDF variant (tf·N/df — same ranking as log-IDF,
    //      bit-replayable in SQL; see TextOps.salientTerms) ----
    "p21_salient_terms" -> ((s, dir) => {
      TextOps.salientTerms(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ---- downsample + gap-fill: per-series hourly buckets over each
    //      series' own [min,max] span, empty buckets materialized and
    //      LOCF-filled — the canonical metrics-dashboard query. Events
    //      sparsified (every 19th) so gaps exist at every SF ----
    "p22_gap_fill" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % GapSparsify === 0)
        .select(col("event_type").as("etype"), eventTsUs.as("t"), col("value"))
      TimeSeriesOps.gapFill(ev, key = "etype", timeCol = "t",
        valCol = "value", bucketNs = GapBucketNs)
        .select(col("etype"), col("bucket_ts"), col("n"),
          round(col("v_avg"), 4).as("v_avg"),
          round(col("v_fill"), 4).as("v_fill"))
        .orderBy(col("etype"), col("bucket_ts"))
    }),

    // ---- ClickHouse-windowFunnel-style stage progression per user
    //      (view → click → purchase within 6 h of the chain's first
    //      event): chain DP via running-max windows, one sort per user,
    //      no collect_list ----
    "p23_window_funnel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), eventTsUs.as("t"), col("event_id"),
          col("event_type"))
      TimeSeriesOps.windowFunnel(ev, key = "user_id", timeCol = "t",
        tieCol = "event_id",
        stages = FunnelStages.map(st => col("event_type") === st),
        windowNs = FunnelWindowNs)
        .orderBy(col("user_id"))
    }),

    // ---- ClickHouse-retention-style cohort flags per user (purchased
    //      in epoch-week 0; AND purchased in weeks 1..3 — purchase-only
    //      so the flags actually discriminate at test SFs) — one keyed
    //      partial-agged aggregate, order-independent ----
    "p24_retention" -> ((s, dir) => {
      // FLOOR-divide into weeks (pmod device), matching the oracle's
      // DuckDB `//`: plain DIV truncates toward zero, which would file
      // a pre-origin event into week 0 while the oracle says week -1
      // (review r10; latent at test SFs — generated events start after
      // the origin — but a contract divergence, the gapFill trap)
      val diff = s"(${Tables.EventTsUsSql} - $RetentionOriginNs)"
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr(s"($diff - pmod($diff, ${WeekNs}L)) DIV ${WeekNs}L").as("wk"))
      TimeSeriesOps.retention(ev, key = "user_id",
        conds = (0 until RetentionWeeks).map(i =>
          col("event_type") === RetentionEvent && col("wk") === i))
        .orderBy(col("user_id"))
    }),

    // ---- int8-quantized brute-force ANN: 4× smaller vectors, exact
    //      integer dot products (codegen dotl) — score bit-replayable
    //      in SQL, so the oracle needs no rounding ----
    "p25_quantized_ann" -> ((s, dir) => {
      SimilarityOps.quantizedTopK(Tables.load(s, dir, "embeddings"),
        k = 10, maxQid = 5)
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- heavy hitters per language via the native top_k aggregate
    //      (space-saving, O(capacity) state per group — no full
    //      (lang, token) shuffle). Oracle-checkable with an EXACT-count
    //      oracle because the corpus vocabulary (31 tokens/lang at
    //      every SF) fits the k·8 summary: the spec-pinned exact
    //      regime. At true scale the same query is approximate with
    //      the documented N/C overestimate bound ----
    "p29_heavy_hitters" -> ((s, dir) => {
      val tok = Tables.loadSpread(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      tok.groupBy("lang").agg(expr(s"top_k($HeavyHittersK, tok)").as("tk"))
        .select(col("lang"), posexplode(col("tk")).as(Seq("rk0", "e")))
        .select(col("lang"), (col("rk0") + 1).as("rk"),
          col("e.value").as("term"), col("e.cnt").as("cnt"))
        .orderBy(col("lang"), col("rk"))
    }),

    // ---- exact-N-per-stratum sampling: first StratifiedN docs of each
    //      lang in md5 order — fixed quota (vs p19's fixed rate),
    //      WindowGroupLimit keeps per-task state O(N) ----
    "p28_stratified_sample" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      SampleOps.stratifiedSample(docs, col("lang"), col("doc_id"), StratifiedN)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // ---- IVF pruning × int8-quantized scoring (IVF-PQ-style): cells
    //      prune WHICH vectors are scanned, quantization shrinks WHAT
    //      is scanned (4× fewer bytes); still bit-replayable in SQL ----
    "p27_ivf_quantized" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      ivfQCenters.set(km.clusterCenters.map(_.toArray))
      SimilarityOps.ivfQuantizedTopKWith(km, assigned,
        emb.filter(col("vec_id") < 5), k = 10, nprobe = 4)
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- conjunctive keyword search: docs containing ALL query terms,
    //      scored by occurrence count (map-side literal-IN filter at the
    //      explode, one doc-keyed groupBy) ----
    "p26_keyword_search" -> ((s, dir) => {
      TextOps.keywordSearch(Tables.loadSpread(s, dir, "documents"), SearchTerms)
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing: greedy next-fit of docs into 128-token
    //      training rows, sharded by doc_id — the sequential recurrence
    //      distributed as one hash shuffle + per-shard linear scan with
    //      O(1) state (PackOps). Oracle: recursive-CTE replay ----
    "p30_seq_packing" -> ((s, dir) => {
      val sized = Tables.load(s, dir, "documents")
        .select((col("doc_id") % PackShards).cast("int").as("shard"),
          col("doc_id"), TextOps.tokenCount(col("text")).as("n_tok"))
      PackOps.packGreedy(sized, PackBudget)
        .orderBy(col("shard"), col("doc_id"))
    }),

    // ---- benchmark decontamination: corpus docs sharing an 8-gram with
    //      the doc_id<50 holdout (broadcast semi-join; oracle-checked) ----
    "p15_decontaminate" -> ((s, dir) => {
      // plain load: docs feed both the corpus and holdout sides (two
      // consumers) — spreading measured 0.89 s vs 0.79 s plain
      val docs = Tables.load(s, dir, "documents")
      DedupOps.decontaminate(
        docs.filter(col("doc_id") >= DecontamHoldout),
        docs.filter(col("doc_id") < DecontamHoldout))
        .orderBy(col("doc_id"))
    }),

    // ---- sketch-PREFILTERED decontamination: the p15 result through
    //      decontaminateBloom — Spark's BloomFilter sketch drops ~all
    //      corpus shingles map-side, the exact join verifies only the
    //      residue (no false positives survive, none are missed), so
    //      the oracle is p15's own exact SQL. The broadcast shrinks
    //      from holdout STRINGS to a ~1.2 bytes/element sketch ----
    "p71_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      DedupOps.decontaminateBloom(
        docs.filter(col("doc_id") >= DecontamHoldout),
        docs.filter(col("doc_id") < DecontamHoldout))
        .orderBy(col("doc_id"))
    }),

    // ---- pure-SKETCH contamination screen: constant-size (4 KB)
    //      md5-probed Bloom bits as ONE array literal, membership
    //      codegen'd — no join, no exact verify; the oracle re-derives
    //      every bit and so matches the decisions INCLUDING the
    //      sketch's bounded false positives ----
    "p72_bloom_screen" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      DedupOps.bloomScreenWith(
        docs.filter(col("doc_id") >= DecontamHoldout), bloomBitsFor(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- content-defined-chunking dup coverage: hash-residue token
    //      boundaries make chunking SHIFT-INVARIANT (an insertion
    //      perturbs only its own chunk — spec-proven), so trailing
    //      identical content dedups where fixed-size chunks would
    //      break; map-only chunking, (hash, doc_id)-only shuffle ----
    "p73_cdc_coverage" -> ((s, dir) => {
      DedupOps.cdcDupCoverage(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- cluster-balanced (diversity) sample: N vectors per semantic
    //      cell of the SHARED IVF index — the cluster-balanced data-
    //      selection step (cover every mode, cap the dominant ones);
    //      rides the persisted artifact, md5-keyed quota winners so
    //      the pick is a pure function of the data ----
    "p77_diverse_sample" -> ((s, dir) => {
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      diverseCenters.set(km.clusterCenters.map(_.toArray))
      SampleOps.stratifiedSample(assigned.select(col("cell"), col("vec_id")),
        col("cell"), col("vec_id"), DiverseN)
        .select(col("cell"), col("vec_id"), col("rk"))
        .orderBy(col("cell"), col("rk"))
    }),

    // ---- image perceptual-hash dedup: REAL ImageIO decode → aHash
    //      over the luminance grid (exact integer mean compares) →
    //      hash-group sizes; the oracle re-derives every bit from the
    //      synthetic-pixel arithmetic (p11's inductive pattern on the
    //      dedup KEY, not just features) ----
    "p78_image_ahash" -> ((s, dir) => {
      // group size via ONE window on the hash shuffle — a self-join
      // against the aggregate would re-run the synth+decode lineage
      // for the second side (the decode dominates these queries)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ahash"))
      MultimodalOps.imageAHashes(
        MediaGen.syntheticAssets(Tables.loadSpread(s, dir, "documents")))
        .withColumn("n_same", count(lit(1)).over(w))
        .select(col("doc_id"), col("ahash"), col("n_same"))
        .orderBy(col("doc_id"))
    }),

    // ---- audio energy fingerprint: the aHash's audio sibling — REAL
    //      javax.sound PCM decode → per-window exact Σs² → envelope
    //      bits (integer cross-multiplied mean compares) → groups ----
    "p79_audio_fingerprint" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ahash"))
      MultimodalOps.audioEnergyHashes(
        MediaGen.syntheticAssets(Tables.loadSpread(s, dir, "documents")))
        .withColumn("n_same", count(lit(1)).over(w))
        .select(col("doc_id"), col("ahash"), col("n_same"))
        .orderBy(col("doc_id"))
    }),

    // ---- periodicity score: max per-mille lag-agreement over lags
    //      1..8 — catches degenerate loops whose cycle is longer than
    //      any dup-n-gram's width; pure map, integer-exact ----
    "p76_periodicity" -> ((s, dir) => {
      TextOps.periodicity(Tables.loadSorted(s, dir, "documents", col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    // ---- decontamination EDIT: remove the spans around eval-set
    //      collisions (GPT-3 app. C's removal, the edit face of p15) —
    //      holdout grams broadcast, p63's span-cover rebuild; the
    //      oracle fingerprints the edited text itself ----
    "p75_decontam_edit" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      DedupOps.removeContaminatedSpans(
        docs.filter(col("doc_id") >= DecontamHoldout),
        docs.filter(col("doc_id") < DecontamHoldout))
        .orderBy(col("doc_id"))
    }),

    // ---- PII detection + redaction: regex sweeps + chained replaces,
    //      map-only (zero shuffles). The corpus carries no natural PII,
    //      so deterministic doc_id-derived PII is planted first — both
    //      engines rebuild the identical input (MediaGen trick).
    //      loadSorted: per-row regex work dominates, spread the scan ----
    "p31_pii_redact" -> ((s, dir) => {
      PiiOps.piiStats(PiiOps.withSyntheticPii(
        Tables.loadSorted(s, dir, "documents", col("doc_id"))))
    }),

    // ---- exact-substring duplication spans (Lee et al. style): 15-token
    //      sliding windows, md5'd, counted globally; per-doc instance/
    //      cross-doc duplicate counts. One window-hash shuffle + the
    //      doc rollup; linear in corpus tokens ----
    "p32_substr_dedup" -> ((s, dir) => {
      DedupOps.substrDupStats(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- rare-n-gram rate (perplexity-proxy quality gate): corpus
    //      trigram model + per-doc rare-instance fraction. Model groupBy
    //      is Zipf-bounded; instance join rides the same gram-keyed
    //      exchange; integer counts keep it exactly replayable ----
    "p33_rare_ngrams" -> ((s, dir) => {
      TextOps.rareNgramStats(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- temperature-weighted source mixing (α = 1/2 resampling to
    //      √n weights — the data-mixture reweighting step). The corpus'
    //      `source` strata are uniform, so the mix runs on a
    //      deterministic SKEWED stratum (length(bin(doc_id)): sizes
    //      2^k) to exercise the flattening semantics; corpus never
    //      shuffles — rates broadcast, gate is map-side ----
    "p34_temperature_mix" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("grp", length(bin(col("doc_id"))).cast("long"))
      SampleOps.temperatureMix(docs, col("grp"), col("doc_id"), MixTargetFrac)
        .groupBy("grp").agg(count(lit(1)).as("n_kept"))
        .orderBy("grp")
    }),

    // ---- overlapping chunking (RAG/embedding prep): 32-token windows
    //      on a 24 stride — map-only tokenize→transform→explode, the
    //      unit-of-indexing transform before any embedding pass ----
    "p35_chunking" -> ((s, dir) => {
      TextOps.chunkDocs(Tables.loadSorted(s, dir, "documents", col("doc_id")))
        .orderBy(col("doc_id"), col("start_tok"))
    }),

    // ---- canonical-keeper selection: the dedup DECISION step —
    //      near-dup clusters (p20's star-contraction) × quality scores
    //      (p09's gate), keep the best-quality member per cluster
    //      (rounded-quality desc, doc_id tie-break). One window over
    //      cluster_id on top of the clustering dataflow ----
    "p36_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // composes on the MATERIALIZED cluster map (built once per corpus
      // snapshot by whichever consumer ran first — the r4 shape re-ran
      // the pair join + CC per consumer): one doc_id-keyed join of the
      // quality projection against the parquet artifact
      val docs = Tables.loadSpread(s, dir, "documents")
      val labeled = docs
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .join(clusterMapFor(s, dir), "doc_id")
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      labeled
        .withColumn("rk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("n_members"), col("quality"))
        .orderBy(col("cluster_id"))
    }),

    // ---- the composed corpus-prep pipeline: gates -> cluster -> keep
    //      best -> redact -> chunk, end-to-end in one dataflow, fully
    //      oracle-replayed (CorpusPipeline) ----
    "p37_prepare_corpus" -> ((s, dir) => {
      // plain load, NOT loadSpread: the gated corpus feeds several
      // consumers (both gate branches, the pair join, the labeling) —
      // spreading measured 5.6 s vs 4.9 s plain (same multi-consumer
      // effect as p36). The gate+label stages materialize ONCE per
      // corpus dir (gatedMapFor — the clusterMapFor pattern): they are
      // the pipeline's pair join + CC, a per-snapshot artifact, and
      // keeper/redact/chunk compose on the persisted table
      CorpusPipeline.finish(gatedMapFor(s, dir))
        .orderBy(col("doc_id"), col("start_tok"))
    }),

    // ---- chunk-level retrieval: chunks -> integer letter-profile
    //      vectors -> exact cosine top-k for query-doc chunks (queries
    //      broadcast, corpus streamed, one rank window). The capstone
    //      of the text->vector->search path; a learned encoder drops
    //      into the featurize slot without touching the dataflow ----
    "p38_chunk_retrieval" -> ((s, dir) => {
      SimilarityOps.chunkRetrieval(Tables.loadSpread(s, dir, "documents"),
        k = RetrievalK, maxQdoc = RetrievalQDocs)
        .orderBy(col("qdoc"), col("qstart"), col("rn"))
    }),

    // ---- SemDeDup-style semantic dedup: k-means cells scope the pair
    //      search, cosine groups within a cell resolve to one keeper
    //      (star-contraction CC). Oracle-checked via the trained-centroid
    //      replay (p13's pattern) + recursive-CTE closure (p20's) ----
    "p40_semantic_dedup" -> ((s, dir) => {
      val (km, assigned) = ivfIndexFor(s, dir, semCellsFor(s, dir))
      semCenters.set(km.clusterCenters.map(_.toArray))
      DedupOps.semanticDedup(assigned, EmbDupTau)
        .orderBy(col("vec_id"))
    }),

    // ---- C4-style line-level cleaning: line structure + blemishes are
    //      PLANTED deterministically (the corpus has no natural lines —
    //      the p31/p11 trick), then the real gates run: terminal
    //      punctuation, ≥5 words, no javascript boilerplate. Map-only ----
    "p41_c4_clean" -> ((s, dir) => {
      TextOps.c4Clean(TextOps.withSyntheticLines(
        Tables.loadSorted(s, dir, "documents", col("doc_id"))))
        .orderBy(col("doc_id"))
    }),

    // ---- length-curriculum bins: decile boundaries from a length
    //      HISTOGRAM (type-1 quantiles, pure integers — no interpolation
    //      FP to drift), broadcast back, bin assignment map-side ----
    "p42_length_curriculum" -> ((s, dir) => {
      // loadSpread: the per-doc quality regex sweep dominates
      SampleOps.lengthCurriculum(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("bin"))
    }),

    // ---- Unicode text hygiene: NFC normalization (codegen Catalyst
    //      expression — composed/decomposed spellings unify before any
    //      hashing), control-char strip, mojibake count. Blemishes
    //      planted deterministically (the p31/p41 trick); DuckDB's
    //      nfc_normalize implements the same UAX #15, so fp hash-checks ----
    "p43_text_hygiene" -> ((s, dir) => {
      TextOps.textHygiene(TextOps.withSyntheticMojibake(
        Tables.loadSorted(s, dir, "documents", col("doc_id"))))
        .orderBy(col("doc_id"))
    }),

    // ---- DSIR importance resampling (Xie et al. 2023): hashed
    //      uni+bigram models of target (lang=en) vs raw corpus, per-doc
    //      log importance weight with quantized-integer log2, keep gate
    //      on the integer weight. Instances pre-aggregate to (doc,
    //      bucket) counts whose exchange both consumers reuse; the
    //      512-key model broadcasts back for map-side scoring ----
    "p44_importance_resampling" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      SampleOps.dsirScores(docs, col("lang") === SampleOps.DsirTargetLang)
        .orderBy(col("doc_id"))
    }),

    // ---- leakage-safe split: train/val/test decided by the near-dup
    //      CLUSTER rep's hash, so no eval doc's near-copy can sit in
    //      train. p20's clustering + one map-only gate on top ----
    "p45_leakage_split" -> ((s, dir) => {
      // map-only gate over the materialized cluster map (see p20/p36)
      SampleOps.leakageSafeSplit(clusterMapFor(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary encoding: the tokenize-to-ids step before p30's
    //      packing — frequency vocab (Zipf-bounded groupBy + distributed
    //      top-V + V-bounded rank) broadcast onto the exploded corpus,
    //      UNK=0, OOV rate + in-order id fingerprint per doc ----
    "p46_vocab_encode" -> ((s, dir) => {
      TextOps.vocabEncode(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- model-based quality filter: train a hashed-n-gram Naive
    //      Bayes on the heuristic gate's weak labels, score every doc
    //      with quantized-integer log-likelihoods (the CCNet/GPT-3
    //      classifier-filter step, distilled from p09's heuristic;
    //      a curated seed corpus drops into the label slot). r15
    //      (VERDICT r14 #1, the p47 sf1 flag): the model trains ONCE
    //      per corpus snapshot via the cached nbModelFor artifact —
    //      the production CCNet shape (train the classifier once,
    //      apply it at corpus scale) — and scoring is the map-only
    //      bound-model column, so the measured query no longer re-pays
    //      the train's corpus-proportional localCheckpoint per
    //      invocation (the blocks outlived each run until GC and taxed
    //      whatever measured next). nbQualityCol ≡ nbQualityScores is
    //      spec-pinned (ModelOpsSpec) and both share this oracle; the
    //      inline-train spelling remains nbQualityScores. ----
    "p47_quality_classifier" -> ((s, dir) => {
      val model = nbModelFor(s, dir)
      Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), ModelOps.nbQualityCol(col("text"), model).as("q"))
        // row-domain parity with the oracle (review r15): the grouped
        // spelling and the SQL oracle both DROP a doc with no gram
        // instances (NULL text — explode/unnest of a null array yields
        // no rows); the map-only face must not resurrect it (size(null)
        // is NULL here, so the > 0 filter drops exactly that case)
        .filter(col("q")("n_grams") > 0)
        .select(col("doc_id"), col("q")("label").as("label"),
          col("q")("n_grams").as("n_grams"), col("q")("score").as("score"),
          col("q")("pred").as("pred"), col("q")("agree").as("agree"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus card: the per-language dataset-summary report every
    //      corpus release ships — doc/token volume, median length and
    //      quality, exact-dup rate — grouped by PREDICTED language (the
    //      p09 classifier), driving the CH quantile surface through the
    //      oracle gate. One partial-agg shuffle on a tiny key domain;
    //      medians via exact percentile (order-independent, so replayable
    //      — a double SUM of quality would be partial-order-dependent) ----
    "p39_corpus_card" -> ((s, dir) => {
      val scores = TextOps.langScores(col("text"))
      Tables.loadSpread(s, dir, "documents")
        .select(Seq(col("text")) ++
          scores.map { case (l, c) => c.as(s"__h_$l") }: _*)
        .select(
          TextOps.langIdFromScores(
            TextOps.LangNames.map(l => l -> col(s"__h_$l"))).as("lang_pred"),
          TextOps.tokenCount(col("text")).as("__ntok"),
          TextOps.qualityScoreWith(col("text"), col("__h_en")).as("__q"),
          md5(col("text")).as("__h"))
        .groupBy("lang_pred")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__ntok")).as("n_tokens"),
          round(expr("quantileExact(0.5d, __ntok)"), 4).as("med_tok"),
          round(expr("quantileExact(0.5d, __q)"), 4).as("med_q"),
          countDistinct(col("__h")).as("n_uniq"))
        .orderBy(col("lang_pred"))
    }),

    // ---- vocabulary-growth (Heaps) curve: cumulative tokens/types at
    //      doc-id checkpoints from ONE first-seen aggregate + one
    //      per-doc count — two linear shuffles for the whole curve ----
    "p74_vocab_growth" -> ((s, dir) => {
      TextOps.vocabGrowth(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("cp"))
    }),

    // ---- training-order generation: the seeded global shuffle + shard
    //      manifest between corpus prep and the dataloader. No global
    //      sort — shard from the order hash (map-only), seq per shard
    //      (one hash shuffle + in-partition sort), interleaved step
    //      computed map-side. Changing the seed is epoch reshuffling ----
    "p48_corpus_shuffle" -> ((s, dir) => {
      ShardOps.shuffleManifest(Tables.load(s, dir, "documents"), col("doc_id"))
        .orderBy(col("shard"), col("seq"))
    }),

    // ---- cross-corpus screening with a fate ledger: dedupe the new
    //      dump against the accumulated corpus (exact fp anti-join +
    //      band-index probe with candidate-only verify — the
    //      IncrementalCorpus plan) and keep WHY each doc dropped. The
    //      seen/new split is a deterministic hash gate so the oracle
    //      replays it ----
    "p49_cross_screen" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val newb = docs.filter(SampleOps.hashBucket(col("doc_id")) >= CrossSeenBuckets)
      // the seen side's fp set / band index / shingle sets are PERSISTED
      // per-corpus artifacts (crossScreenStateFor): the accumulated
      // corpus's standing index, probed — not rebuilt — per dump
      val (fp, band, sh) = crossScreenStateFor(s, dir)
      val rd = Tables.init(s).read
      IncrementalCorpus.screenReport(newb,
        rd.parquet(fp), rd.parquet(band), rd.parquet(sh), NearDupTau)
        .orderBy(col("doc_id"))
    }),

    // ---- global line-level dedup (CCNet): drop every duplicated LINE
    //      across the corpus, first occurrence wins — the boilerplate
    //      killer document-level dedup can't see. Line structure is
    //      planted (withSyntheticLines, the p41 trick) ----
    "p50_line_dedup" -> ((s, dir) => {
      DedupOps.lineDedup(TextOps.withSyntheticLines(
        Tables.loadSorted(s, dir, "documents", col("doc_id"))))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE tokenizer training: ONE corpus pass (word histogram),
    //      then every merge step runs on the Heaps-bounded vocab alone.
    //      The oracle re-derives each step's argmax from the re-encoded
    //      vocab — training is verified inductively, not replayed ----
    "p51_bpe_train" -> ((s, dir) => {
      val merges = trainedMergesFor(s, dir)
      if (merges.nonEmpty) bpeMerges.set(merges.toArray)
      import s.implicits._
      s.createDataset(merges).toDF()
        .select(col("step"), col("l"), col("r"), col("merged"), col("cnt"))
        .orderBy(col("step"))
    }),

    // ---- BPE encode: the trained merge table applied to the corpus as
    //      a rank-ordered replace chain baked into one projection —
    //      map-only until the per-doc rollup, the expensive face of a
    //      tokenizer in the shape you want at 100 TB ----
    "p52_bpe_encode" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      // shares p51's trained table (keyed by corpus dir): training is
      // the expensive face — re-deriving the identical artifact per
      // consumer doubled the heaviest cost whenever both queries ran
      val merges = trainedMergesFor(s, dir)
      if (merges.nonEmpty) bpeEncMerges.set(merges.toArray)
      // r15 optimization: p80's proven reconstruction of encode()'s
      // exact (n_tok, n_pieces, fp) from the memoizing scalar
      // (BpeOpsSpec pins encodePiecesCol ≡ the batch encode; the
      // oracle is unchanged) — no posexplode row blowup, no per-token
      // replace chain, no collect_list+sort shuffle. BpeOps.encode
      // stays as the spec-reference batch spelling.
      docs.select(col("doc_id"),
          BpeOps.encodePiecesCol(col("text"), merges).as("__e"))
        .filter(size(col("__e")) > 0)
        .select(col("doc_id"),
          size(col("__e")).cast("long").as("n_tok"),
          aggregate(col("__e"), lit(0L), (a, ps) => a + size(ps)).as("n_pieces"),
          md5(array_join(transform(col("__e"),
            ps => concat(lit("|"), array_join(ps, "||"), lit("|"))), " "))
            .as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-domain quality cap (RefinedWeb/FineWeb gate): top-C docs
    //      per source by (quality DESC, doc_id) — computed histogram-
    //      first, so no rank window ever spans a hot domain; only the
    //      single boundary score-group per source gets ranked ----
    "p53_domain_cap" -> ((s, dir) => {
      MixOps.domainCap(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- token-budget mixture plan: per-(lang, source) √-temperature
    //      allocation and epoch factor, all integer arithmetic — one
    //      corpus pass to a dimension-sized table, 1-row total broadcast ----
    "p54_mixture_plan" -> ((s, dir) => {
      MixOps.mixturePlan(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- CCNet-style perplexity gate: hashed bigram LM trained on the
    //      heuristic-quality seed slice, per-language head/middle/tail
    //      terciles. r16 (guide §2.3/§2.4, the p52/p61/p65 move): the
    //      face rides the TRAINED-LM artifact (pplMapsFor — p83's maps)
    //      + map-only ppl_bits scoring + the lang window, dropping the
    //      batch spelling's corpus-sized (doc, b1, b12) pre-aggregate,
    //      eager checkpoint, two model joins, per-doc rollup and doc
    //      rejoin. ModelOps.pplGate is spec-pinned ≡ bigramPerplexity
    //      (full 7-column output, NULL-text edge included), and the
    //      unchanged DuckDB oracle re-proves it per run ----
    "p55_ppl_filter" -> ((s, dir) => {
      val (m12, m1) = pplMapsFor(s, dir)
      ModelOps.pplGate(Tables.loadSpread(s, dir, "documents"), m12, m1)
        .orderBy(col("doc_id"))
    }),

    // ---- product-quantization ANN: per-subspace codebooks compress
    //      each vector to M bytes; ADC scan is M table lookups per
    //      candidate. Trained codebooks cached per corpus dir (the IVF
    //      pattern) and rendered into the oracle ----
    "p56_pq_ann" -> ((s, dir) => {
      val index = pqIndexFor(s, dir)
      pqBooks.set(index.books)
      graft.ops.PqOps.pqTopKFrom(index,
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 5),
        k = 10, dims = EmbDims)
        .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- multi-signal ensemble gate (Dolma tagger→mixer shape): six
    //      independent gates over one tokenize pass, keep + first-
    //      tripped reason; zero shuffles, pure codegen sweeps ----
    "p58_quality_ensemble" -> ((s, dir) => {
      TextOps.ensembleGate(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-doc contamination REPORT (the audit face of p15): overlap
    //      fraction + dirty verdict for every corpus doc; holdout
    //      shingles broadcast, total counts ride the same shingle pass ----
    "p59_contamination_report" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      DedupOps.contaminationReport(
        docs.filter(col("doc_id") >= DecontamHoldout),
        docs.filter(col("doc_id") < DecontamHoldout))
        .orderBy(col("doc_id"))
    }),

    // ---- unigram-LM tokenizer TRAINING (Kudo 2018 / SentencePiece):
    //      EM over a capped word histogram (driver-local, the p51
    //      discipline), integer quantized-bit piece costs; output = the
    //      top-200 word head with optimal (cost, n_pieces) — the oracle
    //      re-derives every word's optimal cost' by recursive-CTE DP
    //      over the rendered piece table ----
    "p60_unigram_train" -> ((s, dir) => {
      val pieces = trainedPiecesFor(s, dir)
      if (pieces.nonEmpty) unigramPieces.set(pieces.toArray)
      graft.ops.UnigramOps.trainTable(
        Tables.loadSpread(s, dir, "documents"), pieces)
        .orderBy(col("word"))
    }),

    // ---- unigram-LM encode (p61): distinct corpus words segment by
    //      distributed Viterbi (mapPartitions + broadcast pieces), docs
    //      roll up their tokens' results — corpus text never shuffles ----
    "p61_unigram_encode" -> ((s, dir) => {
      val pieces = trainedPiecesFor(s, dir)
      if (pieces.nonEmpty) unigramEncPieces.set(pieces.toArray)
      // r15 optimization: p81's binding — the UnigramEncode scalar
      // (spec-pinned ≡ encodeDocs' rollup) replaces the batch plan's
      // token explode + distinct-word shuffle + broadcast join +
      // per-doc aggregate with ONE map-only pass (per-task word memo,
      // Heaps-bounded). The n_words > 0 filter replays the join's row
      // domain (a doc with no segmentable word had no group).
      // UnigramOps.encodeDocs stays as the spec-reference spelling.
      val costs = pieces.map(p => p.piece -> p.qcost).toMap
      val u = org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.UnigramEncode(
          org.apache.spark.sql.GraftColumnBridge.toExpression(col("text")),
          costs))
      Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), u.as("__u"))
        .filter(col("__u")("n_words") > 0)
        .select(col("doc_id"), col("__u")("n_words").as("n_words"),
          col("__u")("total_pieces").as("total_pieces"),
          col("__u")("total_cost").as("total_cost"))
        .orderBy(col("doc_id"))
    }),

    // ---- incremental cluster-map refresh: the corpus splits at
    //      RefreshSplit into an "already-clustered" snapshot (labels +
    //      shingle state) and a "new dump"; Spark refreshes the
    //      artifact incrementally (star edges + exact cross pairs),
    //      the oracle re-clusters the FULL corpus from scratch — the
    //      hash match PROVES incremental ≡ batch ----
    "p62_cluster_refresh" -> ((s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      // the snapshot state (labels + shingles of the already-clustered
      // 60%) is a PERSISTED ARTIFACT built once per corpus dir — the
      // clusterMapFor pattern. The measured query is then the thing the
      // op exists for: screening the 40% dump against standing state.
      // Rebuilding the snapshot per invocation would bench batch
      // clustering under an "incremental" label.
      val (labelsPath, shinglesPath, split) = refreshSnapshotFor(s, dir)
      val newDocs = docs.filter(col("doc_id") >= split)
      DedupOps.incrementalClusterLabels(
        Tables.init(s).read.parquet(labelsPath),
        s.read.parquet(shinglesPath), newDocs, NearDupTau)
        .orderBy(col("doc_id"))
    }),

    // ---- duplicated-span removal (Lee et al.'s editing step, not just
    //      the report): non-first window instances cut their spans,
    //      cleaned text fingerprinted so the oracle checks the EDIT ----
    "p63_span_removal" -> ((s, dir) => {
      DedupOps.removeDupSpans(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- kNN label propagation: seed labels (vec_id % 5 == 0) expand
    //      to the unlabeled rest by majority vote through the SHARED
    //      IVF index; `agree` evals the expansion against held-out
    //      truth in the same pass ----
    "p64_label_propagation" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      labelPropCenters.set(km.clusterCenters.map(_.toArray))
      val labeled = assigned.join(emb.select(col("vec_id"), col("label")), "vec_id")
      SimilarityOps.labelPropagationFrom(
        SimilarityOps.centersOf(km, s),
        labeled.filter(col("vec_id") % LabelSeedMod === 0),
        emb.filter(col("vec_id") % LabelSeedMod =!= 0), k = 8, nprobe = 4)
        .orderBy(col("qid"))
    }),

    // ---- tokenizer fertility eval: per-language pieces-per-word for
    //      BOTH trained tokenizers (BPE vs unigram), integer millis —
    //      the cross-lingual bias table; closes train→encode→evaluate ----
    "p65_tokenizer_fertility" -> ((s, dir) => {
      val merges = trainedMergesFor(s, dir)
      val pieces = trainedPiecesFor(s, dir)
      if (merges.nonEmpty && pieces.nonEmpty)
        fertilityArtifacts.set((merges.toArray, pieces.toArray))
      TokenizerEval.fertilityReport(
        Tables.loadSpread(s, dir, "documents"), merges, pieces)
        .orderBy(col("lang"))
    }),

    // ---- curriculum shard manifest: p42's length deciles ORDER p48's
    //      seeded shuffle (short-to-long warmup per dataloader rank);
    //      no global sort — the stage prefix rides the in-shard sort ----
    "p68_curriculum_manifest" -> ((s, dir) => {
      ShardOps.curriculumManifest(
        SampleOps.docBins(Tables.loadSpread(s, dir, "documents"))
          .select(col("doc_id"), col("bin")))
        .orderBy(col("doc_id"))
    }),

    // ---- template-instance detection: structural fingerprint (digit
    //      runs normalized) collapses machine-generated instantiations
    //      that Jaccard misses once fill-ins diverge; map-only + one
    //      fp window ----
    "p67_template_groups" -> ((s, dir) => {
      DedupOps.templateGroups(Tables.loadSpread(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus snapshot diff (dataset versioning): per-doc ledger of
    //      added/removed/changed/unchanged between two planted snapshot
    //      transforms; one md5 per side + one full-outer join ----
    "p66_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.DiffOps.snapshotDiff(
        graft.ops.DiffOps.snapshotA(docs), graft.ops.DiffOps.snapshotB(docs))
        .orderBy(col("doc_id"))
    }),

    // ---- hard-negative mining for retrieval training: top-k nearest
    //      DIFFERENT-label vectors per query, probed through the SHARED
    //      adaptive-nlist IVF index (the p13/p27 artifact — no retrain) ----
    // ---- SQL face of the persisted artifacts (VERDICT r5 #5): the
    //      cluster map joins a corpus table in PLAIN SQL — the exact
    //      shape a /query user POSTs after /gigapi/artifacts publishes
    //      the view. The oracle re-derives the full clustering. ----
    "p69_sql_cluster_join" -> ((s, dir) => {
      Tables.load(s, dir, "documents").createOrReplaceTempView("p69_docs")
      clusterMapFor(s, dir).createOrReplaceTempView("p69_cluster_map")
      s.sql("""SELECT d.doc_id, m.cluster_id,
               |  d.doc_id = m.cluster_id AS is_keeper
               |FROM p69_docs d JOIN p69_cluster_map m USING (doc_id)
               |ORDER BY d.doc_id""".stripMargin)
    }),

    // ---- SQL face of the IVF index: `ivf_probe(vec, nprobe)` (bound
    //      to the shared trained quantizer) + the published assigned
    //      view replay the p13 probe plan from POSTed SQL — explode the
    //      probe cells, hash-join the index, rank by codegen'd dotf.
    //      Normalization spells out the exact normalized() op sequence
    //      so the replay is bit-identical to the DataFrame path. ----
    "p70_sql_ivf_probe" -> ((s, dir) => {
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      sqlProbeCenters.set(km.clusterCenters.map(_.toArray))
      val centers = km.clusterCenters.map(_.toArray)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("ivf_probe",
        es => graft.functions.IvfProbeCells(es(0), es(1), centers), "scala_udf")
      assigned.createOrReplaceTempView("p70_ivf_assigned")
      Tables.load(s, dir, "embeddings").createOrReplaceTempView("p70_emb")
      s.sql(
        """SELECT qid, nid, round(sim, 4) AS sim, rn FROM (
          |  SELECT q.qid, c.vec_id AS nid, dotf(q.nv, c.nvec) AS sim,
          |    row_number() OVER (PARTITION BY q.qid
          |      ORDER BY dotf(q.nv, c.nvec) DESC, c.vec_id) AS rn
          |  FROM (
          |    SELECT vec_id AS qid,
          |      transform(embedding,
          |        x -> CAST(x AS DOUBLE) / sqrt(dotf(embedding, embedding))) AS nv,
          |      explode(ivf_probe(embedding, 4)) AS cell
          |    FROM p70_emb
          |    WHERE vec_id < 5 AND dotf(embedding, embedding) > 0) q
          |  JOIN p70_ivf_assigned c USING (cell)
          |  WHERE c.vec_id != q.qid) t
          |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    }),

    // ---- SQL faces of the trained TEXT-MODEL artifacts (VERDICT r6
    //      #2): the tokenizers, the quality classifier, the perplexity
    //      gate, and the Bloom screen as artifact-bound scalar
    //      functions — exactly what /gigapi/artifacts publishes — each
    //      hash-matched against the SAME oracle as its batch twin, so
    //      SQL face ≡ batch face ≡ DuckDB rebuild. ----

    // p80: bpe_encode(text) -> array of per-token piece arrays; the
    // SQL reconstructs p52's exact (n_tok, n_pieces, fp) rollup
    "p80_sql_bpe_encode" -> ((s, dir) => {
      val merges = trainedMergesFor(s, dir)
      if (merges.nonEmpty) sqlBpeMerges.set(merges.toArray)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("bpe_encode",
        es => org.apache.spark.sql.GraftColumnBridge.toExpression(
          BpeOps.encodePiecesCol(
            org.apache.spark.sql.GraftColumnBridge.column(es.head), merges)),
        "scala_udf")
      Tables.loadSpread(s, dir, "documents").createOrReplaceTempView("p80_docs")
      s.sql(
        """SELECT doc_id, n_tok, n_pieces, fp FROM (
          |  SELECT doc_id, CAST(size(enc) AS BIGINT) AS n_tok,
          |    aggregate(enc, CAST(0 AS BIGINT), (a, ps) -> a + size(ps)) AS n_pieces,
          |    md5(array_join(transform(enc,
          |      ps -> concat('|', array_join(ps, '||'), '|')), ' ')) AS fp
          |  FROM (SELECT doc_id, bpe_encode(text) AS enc FROM p80_docs))
          |WHERE n_tok > 0 ORDER BY doc_id""".stripMargin)
    }),

    // p81: unigram_encode(text) -> (n_words, total_pieces, total_cost)
    // struct — the boxed-pieces Viterbi expression, p61's rollup
    "p81_sql_unigram_encode" -> ((s, dir) => {
      val pieces = trainedPiecesFor(s, dir)
      if (pieces.nonEmpty) sqlUnigramPieces.set(pieces.toArray)
      val costs = pieces.map(p => p.piece -> p.qcost).toMap
      s.sessionState.functionRegistry.createOrReplaceTempFunction("unigram_encode",
        es => graft.functions.UnigramEncode(es.head, costs), "scala_udf")
      Tables.loadSpread(s, dir, "documents").createOrReplaceTempView("p81_docs")
      s.sql(
        """SELECT doc_id, u.n_words AS n_words, u.total_pieces AS total_pieces,
          |  u.total_cost AS total_cost
          |FROM (SELECT doc_id, unigram_encode(text) AS u FROM p81_docs)
          |WHERE u.n_words > 0 ORDER BY doc_id""".stripMargin)
    }),

    // p82: nb_quality(text) -> p47's full classifier verdict struct
    "p82_sql_nb_quality" -> ((s, dir) => {
      val model = nbModelFor(s, dir)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("nb_quality",
        es => org.apache.spark.sql.GraftColumnBridge.toExpression(
          ModelOps.nbQualityCol(
            org.apache.spark.sql.GraftColumnBridge.column(es.head), model)),
        "scala_udf")
      Tables.loadSpread(s, dir, "documents").createOrReplaceTempView("p82_docs")
      s.sql(
        // q.n_grams > 0: row-domain parity with the oracle for
        // NULL-text docs (review r15 — the p47 note)
        """SELECT doc_id, q.label AS label, q.n_grams AS n_grams,
          |  q.score AS score, q.pred AS pred, q.agree AS agree
          |FROM (SELECT doc_id, nb_quality(text) AS q FROM p82_docs)
          |WHERE q.n_grams > 0
          |ORDER BY doc_id""".stripMargin)
    }),

    // p83: ppl_bits(text) -> (n_big, qsum, bpt_milli); the CCNet
    // tercile cut stays plain SQL window on top — p55's full output
    "p83_sql_ppl_gate" -> ((s, dir) => {
      val (m12, m1) = pplMapsFor(s, dir)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("ppl_bits",
        es => org.apache.spark.sql.GraftColumnBridge.toExpression(
          ModelOps.pplBitsCol(
            org.apache.spark.sql.GraftColumnBridge.column(es.head), m12, m1)),
        "scala_udf")
      Tables.loadSpread(s, dir, "documents").createOrReplaceTempView("p83_docs")
      s.sql(
        """SELECT doc_id, lang, n_big, qsum, bpt_milli, tercile,
          |  tercile <= 2 AS keep
          |FROM (
          |  SELECT doc_id, lang, p.n_big AS n_big, p.qsum AS qsum,
          |    p.bpt_milli AS bpt_milli,
          |    ntile(3) OVER (PARTITION BY lang
          |      ORDER BY p.bpt_milli, doc_id) AS tercile
          |  FROM (SELECT doc_id, lang, ppl_bits(text) AS p FROM p83_docs))
          |ORDER BY doc_id""".stripMargin)
    }),

    // p84: bloom_hit(shingle) + the shingles() scalar replay p72's
    // pure-sketch screen from POSTed SQL — decisions (false positives
    // included) hash-match the same bit-rederiving oracle
    "p84_sql_bloom_screen" -> ((s, dir) => {
      val bits = bloomBitsFor(s, dir)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("bloom_hit",
        es => org.apache.spark.sql.GraftColumnBridge.toExpression(
          DedupOps.bloomHit(bits,
            org.apache.spark.sql.GraftColumnBridge.column(es.head))),
        "scala_udf")
      Tables.load(s, dir, "documents").createOrReplaceTempView("p84_docs")
      s.sql(
        s"""SELECT doc_id, count(*) AS n_hits FROM (
           |  SELECT doc_id, explode(shingles(text, ${DedupOps.DecontamN})) AS sh
           |  FROM p84_docs WHERE doc_id >= $DecontamHoldout)
           |WHERE bloom_hit(sh)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // p85: the PQ probe plan in PLAIN SQL over the published artifact
    // views (`_pq_codes`, `_pq_books` — what the server's pq kind
    // publishes): LUT build, left-assoc ADC over element_at lookups,
    // shortlist cut, exact re-rank — every index artifact (cluster
    // map p69, IVF p70, PQ here) now has a SQL probe face. No bound
    // function needed: the codebooks ARE view-shaped data.
    "p85_sql_pq_ann" -> ((s, dir) => {
      val index = pqIndexFor(s, dir)
      sqlPqBooks.set(index.books)
      // the SHARED published-view schema (PqOps.booksDf): this SQL runs
      // verbatim against a server-published `<table>_pq_books`
      graft.ops.PqOps.booksDf(s, index.books)
        .createOrReplaceTempView("p85_pq_books")
      index.codes.createOrReplaceTempView("p85_pq_codes")
      Tables.load(s, dir, "embeddings").createOrReplaceTempView("p85_emb")
      val sub = EmbDims / graft.ops.PqOps.M
      val ksub = graft.ops.PqOps.Ksub
      val adc = (0 until graft.ops.PqOps.M)
        .map(j => s"element_at(l.lut, ${j * ksub} + 1 + element_at(c.codes, ${j + 1}))")
        .reduceLeft((a, b) => s"($a + $b)")
      s.sql(
        s"""WITH q AS (
           |  SELECT vec_id AS qid,
           |    transform(embedding,
           |      x -> CAST(x AS DOUBLE) / sqrt(dotf(embedding, embedding))) AS qv
           |  FROM p85_emb
           |  WHERE vec_id < 5 AND dotf(embedding, embedding) > 0),
           |lut AS (
           |  SELECT qid, first(qv) AS qv,
           |    transform(array_sort(collect_list(struct(j, c, d))),
           |      x -> x.d) AS lut
           |  FROM (SELECT q.qid, q.qv, b.j, b.c,
           |          dotf(slice(q.qv, b.j * $sub + 1, $sub), b.cv) AS d
           |        FROM q CROSS JOIN p85_pq_books b)
           |  GROUP BY qid),
           |adc AS (
           |  SELECT l.qid, l.qv, c.vec_id AS nid, $adc AS adc
           |  FROM p85_pq_codes c CROSS JOIN lut l
           |  WHERE l.qid != c.vec_id),
           |shortlist AS (
           |  SELECT qid, qv, nid,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY adc DESC, nid) AS ra
           |  FROM adc),
           |exact AS (
           |  SELECT s.qid, s.nid, dotf(s.qv, n.nvec) AS sim
           |  FROM shortlist s JOIN p85_pq_codes n ON n.vec_id = s.nid
           |  WHERE s.ra <= ${10 * graft.ops.PqOps.RerankFactor})
           |SELECT qid, nid, round(sim, 4) AS sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, nid) AS rn
           |  FROM exact) t
           |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    }),

    // ---- scored keyword search: Okapi BM25 top-k (VERDICT r7 #7 —
    //      the reference image ships DuckDB's fts unused; this is the
    //      match_bm25 analog). Map-only tf/dl per doc + one 1-row
    //      broadcast of (N, avgdl, df) + TakeOrdered: zero doc shuffles ----
    "p86_bm25_search" -> ((s, dir) => {
      SearchOps.bm25(Tables.loadSpread(s, dir, "documents"), Bm25Terms, k = 20)
    }),

    // ---- batch BM25 over MANY queries via posting lists: the
    //      inverted-index face for the queries >> corpus-passes regime;
    //      postings restricted to query vocab at the explode, integer
    //      micro-unit scores (float-sum-proof by construction) ----
    "p87_bm25_batch" -> ((s, dir) => {
      SearchOps.bm25Batch(Tables.loadSpread(s, dir, "documents"), Bm25Queries, k = 10)
    }),

    // ---- Z-order (Morton) layout key: the multi-dimension clustering
    //      that makes per-file zone maps tight on time AND series at
    //      once (LayoutOps — Delta/Iceberg OPTIMIZE ZORDER analog).
    //      Pure integer shift/mask chain, whole-stage codegen; the
    //      oracle re-derives every z-value bit for bit ----
    "p88_zorder_key" -> ((s, dir) => {
      // FLOOR-divide into hours (the p24 pmod device, review r10): the
      // oracle uses DuckDB's flooring `//`, and plain DIV truncates
      // toward zero — a pre-epoch ts would interleave a different
      // z-value (latent at test SFs; contract divergence regardless)
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          LayoutOps.zorder2(
            expr("(ts - pmod(ts, 3600000000000L)) DIV 3600000000000L"),
            col("user_id")).as("z"))
        .orderBy(col("event_id"))
    }),

    // ---- p89/p90: deterministic HyperLogLog cardinality (SketchOps).
    //      COUNT(DISTINCT) without the distinct-value shuffle: one
    //      map-side pass to m=64 integer registers; the oracle replays
    //      every register and the estimate bit for bit ----
    "p89_hll_distinct" -> ((s, dir) =>
      SketchOps.hllSummary(Tables.load(s, dir, "documents"), col("text"))),

    "p90_sql_hll" -> ((s, dir) => {
      Tables.load(s, dir, "events").createOrReplaceTempView("p90_events")
      s.sql(
        """SELECT hll_distinct(CAST(event_id AS STRING)) AS est_distinct
          |FROM p90_events""".stripMargin)
    }),

    // ---- p91: count-min sketch heavy hitters — n-gram frequency service
    //      with 2 MB of mergeable state; exact side = differential gate ----
    "p91_cms_heavy_hitters" -> ((s, dir) =>
      SketchOps.cmsHeavyHitters(Tables.load(s, dir, "documents"))),

    // ---- p92: HDR log-linear histogram quantiles — percentiles with no
    //      sort, integer-exact bucketing, constant-size post-scan tail ----
    "p92_hdr_quantiles" -> ((s, dir) =>
      SketchOps.hdrQuantiles(Tables.load(s, dir, "events"), col("value"))),

    // ---- p93: CMS point probes in PLAIN SQL — the bound cms_count
    //      scalar (what the server's `cms` kind publishes) answering a
    //      deterministic probe slice, vs a DuckDB re-derivation of
    //      every probe's d counter cells from the corpus: proves
    //      SQL face ≡ collected sketch ≡ oracle rebuild ----
    "p93_sql_cms" -> ((s, dir) => {
      val arr = cmsArrFor(s, dir)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("cms_count",
        { case Seq(e) => graft.functions.CmsCount(e, arr)
          case es => throw new IllegalArgumentException(
            s"cms_count(term) takes exactly 1 argument, got ${es.size}") },
        "scala_udf")
      Tables.load(s, dir, "documents").createOrReplaceTempView("p93_docs")
      s.sql(
        s"""SELECT s, cms_count(s) AS est FROM (
           |  SELECT DISTINCT s FROM (
           |    SELECT explode(shingles(text, 3)) AS s
           |    FROM p93_docs WHERE doc_id < ${SketchOps.CmsProbeDocs}))
           |ORDER BY s""".stripMargin)
    }),

    // ---- p94: HDR quantile lookup in PLAIN SQL — the bound
    //      hdr_quantile scalar (what the server's `hdr` kind publishes)
    //      against the SAME oracle as the dataflow face p92: the two
    //      faces must answer identically ----
    "p94_sql_hdr" -> ((s, dir) => {
      val (idxs, cums) = hdrArraysFor(s, dir)
      s.sessionState.functionRegistry.createOrReplaceTempFunction("hdr_quantile",
        { case Seq(e) => graft.functions.HdrQuantile(e, idxs, cums)
          case es => throw new IllegalArgumentException(
            s"hdr_quantile(q_permille) takes exactly 1 argument, got ${es.size}") },
        "scala_udf")
      s.sql(
        s"""SELECT CAST(qpm AS BIGINT) AS q_permille,
           |  (hdr_quantile(qpm)).rank AS rank,
           |  (hdr_quantile(qpm)).est_lo_milli AS est_lo_milli,
           |  (hdr_quantile(qpm)).est_hi_milli AS est_hi_milli
           |FROM VALUES ${SketchOps.HdrQs.map(q => s"($q)").mkString(",")} AS t(qpm)
           |ORDER BY q_permille""".stripMargin)
    }),

    // ---- near-dup graph centrality (r14): integer-ppm PageRank over
    //      the τ-thresholded Jaccard pairs — rank which copy of a
    //      template family is canonical; edges from the same capped
    //      pair machinery as p02, 5 unrolled power steps ----
    "p96_graph_rank" -> ((s, dir) => {
      DedupOps.jaccardPageRank(
        Tables.loadSpread(s, dir, "documents"), NearDupTau)
    }),

    // ---- winnowing fingerprint matches (r14): MOSS-style positional
    //      copied-run detection — window-min 24-bit md5 grams, df-cap,
    //      pairs sharing >= 2 fingerprints ----
    "p97_winnowing" -> ((s, dir) => {
      DedupOps.winnowMatches(Tables.loadSpread(s, dir, "documents"))
    }),

    // ---- pairwise-preference aggregation (r14): Bradley–Terry item
    //      strengths over synthesized source-vs-source arena matches
    //      (adjacent-doc pairing, quality-score outcome); integer-ppm
    //      MM iterations so the distributed Σ is order-invariant ----
    "p98_bradley_terry" -> ((s, dir) => {
      PrefOps.bradleyTerry(
        PrefOps.syntheticMatches(Tables.loadSpread(s, dir, "documents")))
    }),

    // ---- hybrid retrieval (r14): dense cosine + sparse BM25
    //      more-like-this fused by reciprocal rank (integer micro-unit
    //      RRF, k_rrf = 60); seeds are doc/vec ids 0..4 — the aligned
    //      synthetic id space makes each seed both a query document
    //      and a query vector ----
    "p95_hybrid_rrf" -> ((s, dir) => {
      // r15 (VERDICT r14 #5): the dense side rides the SHARED persisted
      // IVF index — cell-pruned probes (the p13/p99 plan) instead of
      // one full corpus scan per seed batch; the fusion is untouched
      // (hybridRrfWith) and the oracle replays the probe from the
      // trained centroids. The brute-force spelling stays as
      // SearchOps.hybridRrf, spec-pinned equal at full probe.
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      hybridCenters.set(km.clusterCenters.map(_.toArray))
      SearchOps.hybridRrfWith(
        Tables.loadSpread(s, dir, "documents"),
        SimilarityOps.ivfTopKWith(km, assigned,
          emb.filter(col("vec_id") < 5), 10, nprobe = 4),
        nSeeds = 5, k = 10)
    }),

    "p57_hard_negatives" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      hardNegCenters.set(km.clusterCenters.map(_.toArray))
      val labeled = assigned.join(emb.select(col("vec_id"), col("label")), "vec_id")
      SimilarityOps.hardNegativesFrom(
        SimilarityOps.centersOf(km, s), labeled,
        emb.filter(col("vec_id") < 8), k = 10, nprobe = 4)
        .select(col("qid"), col("q_label"), col("nid"), col("n_label"),
          round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- cluster cards (r14): the dedup artifact's explainability
    //      face — per multi-member near-dup cluster: size, keeper, and
    //      the cluster's top-3 salient terms (p21's exact-rational
    //      TF-IDF lifted from documents to clusters) ----
    "p100_cluster_cards" -> ((s, dir) => {
      DedupOps.clusterCards(
        Tables.loadSpread(s, dir, "documents"), clusterMapFor(s, dir))
    }),

    // ---- margin-based aligned-pair mining (r14): the CCMatrix/LASER
    //      bitext primitive — best cross-side match per vector, kept
    //      when its cosine clears both endpoints' neighborhood average
    //      (integer-ppm margin through the shared IVF index) ----
    "p99_margin_mining" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      marginCenters.set(km.clusterCenters.map(_.toArray))
      val labeled = assigned.join(emb.select(col("vec_id"), col("label")), "vec_id")
      SimilarityOps.marginMiningFrom(
        SimilarityOps.centersOf(km, s), labeled, emb,
        k = 4, nprobe = 4, minMarginPpm = MarginMinPpm)
    }),

    // ---- isotonic score calibration (r15 late): the step every
    //      production quality gate needs between a classifier's raw
    //      score and a threshold — PAVA (Ayer 1955; Zadrozny & Elkan
    //      2002) fits the monotone map score-bucket → empirical
    //      P(label), so "keep if P ≥ 0.8" means what it says. Rides
    //      the SHARED nbModelFor artifact (p47's classifier, not
    //      retrained); plan: one map-side-combined aggregate onto a
    //      BOUNDED bucket domain (≤ 2·clamp+1 = 129 rows at any corpus
    //      size), exact-integer PAVA on that constant-size driver
    //      artifact, broadcast of the fitted step back onto the bucket
    //      table. No full-corpus state anywhere; the only driver work
    //      is O(buckets). Oracle: DuckDB re-derives score, bucket and
    //      (n, n_pos) from raw text through p47's factored SQL core
    //      and joins the rendered fit (trained-artifact pattern). ----
    "p101_isotonic_calibration" -> ((s, dir) => {
      import ModelOps.{IsoBucketClamp, IsoBucketScale}
      val model = nbModelFor(s, dir)
      val q = ModelOps.nbQualityCol(col("text"), model)
      val agg = Tables.loadSpread(s, dir, "documents")
        .select(q.as("q"))
        .filter(col("q")("n_grams") > 0)
        // per-gram log-odds in sixteenths: the length-invariant
        // calibration feature (see ModelOps.IsoBucketScale's note)
        .select(least(greatest(
          floor((col("q")("score") * lit(IsoBucketScale)).cast("double") /
            col("q")("n_grams").cast("double")),
          lit(-IsoBucketClamp)), lit(IsoBucketClamp)).as("bucket"),
          col("q")("label").as("label"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
        // two consumers (driver fit + output join) of a ≤129-row frame
        .localCheckpoint()
      val fit = ModelOps.isotonicPava(
        agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      isotonicFit.set(fit)
      val fitDf = s.createDataFrame(fit.map(f => IsoFitRow(f._1, f._2)))
      agg.join(broadcast(fitDf), "bucket")
        .select(col("bucket"), col("n"), col("n_pos"), col("cal_ppm"))
        .orderBy(col("bucket"))
    }),

    // ---- ANN index-quality report (r15 late): recall@k of the SHARED
    //      IVF index vs exact brute-force ground truth on a bounded
    //      query sample — the index-health number a pipeline reads
    //      before routing dedup/retrieval through the index. Oracle
    //      re-derives BOTH sides independently (p06's brute core +
    //      p13's quantizer replay over the same trained centroids). ----
    "p102_ann_recall_report" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      recallCenters.set(km.clusterCenters.map(_.toArray))
      SimilarityOps.annRecallReport(emb, km, assigned,
        emb.filter(col("vec_id") < AnnEvalQ), AnnEvalK, AnnEvalNprobe)
    }),

    // ---- MMR diversity re-rank (r15 late): the standard post-step
    //      between retrieval and a context window (Carbonell 1998) —
    //      greedy λ·relevance − (1−λ)·max-redundancy over the shared
    //      IVF index's top-k0, all in integer µ-units, greedy run
    //      distributed per query over bounded cogroups. Oracle
    //      re-derives the WHOLE selection (candidates, pair matrix,
    //      3 unrolled argmax steps) — nothing rendered. ----
    "p103_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (km, assigned) = ivfIndexFor(s, dir, ivfNlistFor(s, dir))
      mmrCenters.set(km.clusterCenters.map(_.toArray))
      SimilarityOps.mmrRerank(SimilarityOps.centersOf(km, s), assigned,
        emb.filter(col("vec_id") < MmrQ), MmrK0, MmrM, MmrNprobe, MmrLambdaPpm)
    }),
  )

  /** p101's fitted step function row (bucket → calibrated ppm). */
  private case class IsoFitRow(bucket: Long, cal_ppm: Long)

  /** events.ts at µs granularity (still ns units): DuckDB reads
    * TIMESTAMP_NS truncated to µs, so every oracle-compared time — and
    * every time COMPARISON (as-of, range, session gaps) — must happen on
    * the truncated value or sub-µs ns flip same-µs ties. */
  private def eventTsUs = expr(Tables.EventTsUsSql)

  /** p15's holdout split: the first docs stand in for an eval set. */
  val DecontamHoldout = 50L

  /** p17's interval length AND bucket width (1 h in ns): each interval
    * covers ≤ 2 buckets. */
  val IntervalNs = 3600000000000L

  /** p18's session gap (30 min in ns). */
  val SessionGapNs = 1800000000000L

  /** p22's downsample bucket (1 h in ns) and sparsifier (keep every
    * 19th event so empty buckets — the gap-fill path — exist at every
    * test SF, not just the smallest). */
  val GapBucketNs = 3600000000000L
  val GapSparsify = 19L

  /** p23's funnel stages and window (6 h in ns). */
  val FunnelStages = Seq("view", "click", "purchase")
  val FunnelWindowNs = 21600000000000L

  /** p24's cohort grid: epoch-anchored weeks from the testdata origin
    * (2024-01-01T00:00:00Z in ns), flags on purchase activity. */
  val RetentionOriginNs = 1704067200000000000L
  val WeekNs = 604800000000000L
  val RetentionWeeks = 4
  val RetentionEvent = "purchase"

  /** p26's query terms (conjunctive). */
  val SearchTerms = Seq("spark", "vector", "window")

  /** p28's per-stratum quota. */
  val StratifiedN = 20

  /** p34's target resample fraction (¼ is exactly representable, so the
    * rate arithmetic starts from an exact literal in both engines). */
  val MixTargetFrac = 0.25

  /** p38's retrieval shape: top-5 corpus chunks per chunk of docs 0-2. */
  val RetrievalK = 5
  val RetrievalQDocs = 3L

  /** p29's k (summary capacity 8k must exceed the per-lang vocabulary
    * for the exact-count oracle to replay; 31 tokens/lang < 40). */
  val HeavyHittersK = 5

  /** p30's packing grid: 8 shards; 128-token bins (docs run 10-99
    * tokens at every SF, so bins hold 1-3 docs and overflow splits
    * actually occur). */
  val PackShards = 8
  val PackBudget = 128

  /** p49's seen/new split: 80% of docs (by hash bucket) are the
    * accumulated corpus, the rest are the incoming dump. */
  val CrossSeenBuckets = 800L

  /** Where trained artifacts (cluster maps, IVF/PQ indexes) persist.
    * Default: a driver-local temp dir — correct for local[] and
    * local-cluster[] (one machine). On a real cluster set
    * GRAFT_ARTIFACT_DIR to SHARED storage (hdfs://, s3a://, a mount):
    * the path is only ever handed to Spark readers/writers, so any
    * Hadoop-FS scheme works; executors never resolve it as a local
    * java.nio path. */
  private def artifactDir(prefix: String): String =
    sys.env.get("GRAFT_ARTIFACT_DIR") match {
      case Some(base) =>
        s"${base.stripSuffix("/")}/$prefix-${java.util.UUID.randomUUID()}"
      case None =>
        java.nio.file.Files.createTempDirectory(prefix + "-").toString
    }

  /** Staleness guard for the artifact caches (SCALE.md "artifact cache
    * contract"): caches key on the corpus dir PLUS this snapshot id
    * (name/size/mtime of every file, driver-side metadata only — no
    * Spark job), so a corpus dir mutated in place misses the cache and
    * rebuilds instead of serving a stale trained artifact. Lakehouse
    * snapshot dirs are immutable, so the recheck normally re-hits the
    * same key. Non-local schemes (hdfs://, s3a://) fall back to the
    * bare dir string — there the immutable-snapshot assumption is the
    * contract. */
  private def snapshotId(dir: String): String =
    graft.util.Fingerprint.dirToken(dir)

  /** Nanoseconds spent BUILDING artifacts (cache misses) since JVM
    * start — the bench reads the delta per rep so a rep that carried a
    * one-time build (rep 1, typically) is interpretable in the record
    * instead of reading as a slow query (VERDICT r5: p62's 4.3× rep
    * spread was exactly this). */
  val artifactBuildNanos = new java.util.concurrent.atomic.AtomicLong(0)

  /** computeIfAbsent keyed by corpus dir + snapshot id — the shared
    * shape of every per-corpus artifact cache below. Entries for
    * superseded snapshots linger (bounded by snapshots seen per JVM);
    * correctness needs only that the CURRENT snapshot never maps to an
    * artifact trained on different bytes. */
  private def snapCached[V](cache: java.util.concurrent.ConcurrentHashMap[String, V],
                            dir: String, extra: String = "")(build: => V): V =
    cache.computeIfAbsent(s"$dir@${snapshotId(dir)}$extra", _ => {
      val t0 = System.nanoTime()
      try build finally artifactBuildNanos.addAndGet(System.nanoTime() - t0): Unit
    })

  /** Documents-corpus dup-routing stats — ONE md5 hash-agg probe per
    * corpus snapshot (VERDICT r9 #6): the (nDocs, maxDup) pair that
    * routes minHashPairs/nearDupPairs is catalog-stats material a
    * production caller holds, not something every invocation should
    * re-scan the corpus for. p03 passes it through; the probe cost
    * lands once in artifactBuildNanos like every other per-snapshot
    * artifact. */
  private val dupStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def dupStatsFor(s: SparkSession, dir: String): (Long, Long) =
    snapCached(dupStatsCache, dir) {
      val r = Tables.load(s, dir, "documents")
        .groupBy(md5(coalesce(col("text"), lit(""))).as("__fp"))
        .agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c")), max(col("__c"))).collect()(0)
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }

  /** Embedding-corpus row count, one metadata-only count per corpus
    * snapshot — the input to data-adaptive index sizing (VERDICT r5 #1:
    * pinned nlist made p64 super-linear; cells must stay ~constant-size
    * as the corpus grows). */
  private val embRowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embRowsFor(s: SparkSession, dir: String): Long =
    snapCached(embRowsCache, dir)(Tables.load(s, dir, "embeddings").count())

  /** p72's trained Bloom bits, built ONCE per corpus snapshot (the
    * ivfIndexFor pattern — a 4 KB driver artifact; the streaming screen
    * binds the same bits). */
  private val bloomBitsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private def bloomBitsFor(s: SparkSession, dir: String): Array[Long] =
    snapCached(bloomBitsCache, dir)(DedupOps.bloomBits(
      Tables.load(s, dir, "documents").filter(col("doc_id") < DecontamHoldout)))

  /** p93's trained CMS counters, built ONCE per corpus snapshot — the
    * flattened d·w array the server's `cms` kind also binds (2 MB,
    * bounded by the sketch constants). */
  private val cmsArrCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private def cmsArrFor(s: SparkSession, dir: String): Array[Long] =
    snapCached(cmsArrCache, dir) {
      val arr = new Array[Long](SketchOps.CmsDepth * SketchOps.CmsWidth)
      SketchOps.cmsCounters(Tables.load(s, dir, "documents"))
        .select(col("j").cast("int"), col("slot").cast("long"),
          col("c").cast("long"))
        .collect().foreach(r => arr(r.getInt(0) * SketchOps.CmsWidth +
          r.getLong(1).toInt) = r.getLong(2))
      arr
    }

  /** p94's trained HDR histogram (sorted bucket indices + cumulative
    * counts), built ONCE per corpus snapshot — ≤1.5 k entries, the
    * arrays the server's `hdr` kind also binds. */
  private val hdrHistCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Long], Array[Long])]()
  private def hdrArraysFor(s: SparkSession, dir: String): (Array[Long], Array[Long]) =
    snapCached(hdrHistCache, dir) {
      val rows = SketchOps.hdrHistogram(
        Tables.load(s, dir, "events"), col("value")).orderBy("idx").collect()
      val idxs = rows.map(_.getLong(0))
      var run = 0L
      val cums = rows.map { r => run += r.getLong(1); run }
      (idxs, cums)
    }

  /** Cell count of the SHARED IVF index: 16 at the test SFs (≤2000
    * vectors / 125-row target cells), growing ∝ corpus beyond — the
    * trained-centroid oracles render whatever was trained, so sizing
    * changes never touch the SQL. */
  private def ivfNlistFor(s: SparkSession, dir: String): Int =
    SimilarityOps.adaptiveNlist(embRowsFor(s, dir))

  /** p40's semantic-dedup cell count: SemCells (8) at the test SFs,
    * cells of ~250 vectors beyond — within-cell pair work stays
    * O(cellRows²·ncells) = linear in the corpus. */
  private def semCellsFor(s: SparkSession, dir: String): Int =
    SimilarityOps.adaptiveNlist(embRowsFor(s, dir), targetCellRows = 250,
      floor = SemCells)

  /** Materialized near-dup cluster map, built ONCE per corpus dir and
    * persisted as parquet (DedupOps.saveClusterLabels — the IVF-index
    * pattern): p20 is the build face, p36/p45 compose on the artifact.
    * A real pipeline materializes the cluster map once per corpus
    * snapshot; re-running the pair join + connected components per
    * consumer was the r4 shape this replaces. Oracles are unchanged —
    * they still independently re-derive the full clustering. */
  private val clusterMapDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def clusterMapFor(s: SparkSession, dir: String): DataFrame = {
    val path = snapCached(clusterMapDirs, dir) {
      val out = artifactDir("graft-clustermap")
      DedupOps.saveClusterLabels(
        DedupOps.clusterLabels(Tables.loadSpread(s, dir, "documents"), NearDupTau),
        out.toString)
      out.toString
    }
    DedupOps.loadClusterLabels(Tables.init(s), path)
  }

  /** Materialized gate+label table for the composed pipeline (p37):
    * gates + pair join + connected components run ONCE per corpus dir,
    * the labeled survivors persist as parquet, and the keeper/redact/
    * chunk stages compose on the artifact — same pattern, different
    * snapshot, as clusterMapFor (p37 clusters the gate-PRUNED corpus,
    * so it cannot share the full-corpus map). The oracle still replays
    * the whole pipeline including the clustering. */
  private val gatedMapDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def gatedMapFor(s: SparkSession, dir: String): DataFrame = {
    val path = snapCached(gatedMapDirs, dir) {
      val out = artifactDir("graft-gatedmap")
      DedupOps.saveClusterLabels(
        CorpusPipeline.gateAndLabel(Tables.load(s, dir, "documents"), NearDupTau),
        out.toString)
      out.toString
    }
    DedupOps.loadClusterLabels(Tables.init(s), path)
  }

  /** Trained IVF index, built ONCE per (corpus dir, nlist): the k-means
    * fit + full-corpus assignment persist as parquet (the saveIvfIndex
    * "batch artifact" contract) and every consumer probes the loaded
    * table — p13 and p27 SHARE the adaptive-nlist quantizer (they previously
    * each trained an identical one), p40 owns nlist=SemCells. The
    * in-JVM model handle serves centersOf for probe math and the
    * captured-centroid oracles. */
  private val ivfIndexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.ml.clustering.KMeansModel, String)]()
  private def ivfIndexFor(s: SparkSession, dir: String, nlist: Int)
      : (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    val (km, path) = snapCached(ivfIndexCache, dir, s"#$nlist") {
      val (m, assigned) =
        SimilarityOps.ivfIndex(Tables.load(s, dir, "embeddings"), nlist)
      val out = artifactDir("graft-ivfidx")
      assigned.select(col("vec_id"), col("nvec"), col("cell"))
        .write.mode("overwrite").parquet(out.toString)
      (m, out.toString)
    }
    (km, Tables.init(s).read.parquet(path))
  }

  /** Embedding dimensionality of the test tables (TESTDATA.md). */
  val EmbDims = 64

  /** Trained PQ index, built ONCE per corpus dir (the ivfIndexFor
    * pattern): driver-local Lloyd over one bounded sample + one
    * map-only encode pass; the encoded corpus persists as parquet,
    * consumers scan the codes. */
  private val pqIndexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Array[Double]]], String)]()
  private def pqIndexFor(s: SparkSession, dir: String): graft.ops.PqOps.PqIndex = {
    val (books, path) = snapCached(pqIndexCache, dir) {
      val idx = graft.ops.PqOps.pqIndex(
        Tables.load(s, dir, "embeddings"), dims = EmbDims)
      val out = artifactDir("graft-pqidx")
      idx.codes.write.mode("overwrite").parquet(out.toString)
      (idx.books, out.toString)
    }
    graft.ops.PqOps.PqIndex(books, Tables.init(s).read.parquet(path))
  }

  /** p56's trained codebooks, captured like p13's centroids. */
  private val pqBooks = new java.util.concurrent.atomic.AtomicReference[
    Array[Array[Array[Double]]]]()

  /** p85's captured codebooks (own copy — the SQL face stays
    * order-independent of p56; the shared index means the same books). */
  private val sqlPqBooks = new java.util.concurrent.atomic.AtomicReference[
    Array[Array[Array[Double]]]]()

  /** p57's probe centroids (the SHARED adaptive-nlist quantizer, captured
    * separately so p57 stays order-independent of p13/p27). */
  private val hardNegCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p99's probe centroids (same shared quantizer, own capture). */
  private val marginCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p95's probe centroids (same shared quantizer, own capture — r15:
    * the dense side rides the IVF index; the oracle replays the probe
    * from these). */
  private val hybridCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p99 margin threshold: pairs must beat their two neighborhoods'
    * average cosine (margin > 1.0) with 2% headroom. */
  val MarginMinPpm = 1020000L

  /** p62's persisted snapshot state, built ONCE per corpus dir: the
    * already-clustered 60%'s label map and shingle rows as parquet
    * artifacts (data-adaptive split so the scenario — most of the
    * corpus clustered, a smaller dump arriving — holds at every SF;
    * the oracle re-clusters the FULL corpus, so the split never
    * reaches the SQL). */
  private val refreshSnapshotCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, Long)]()
  private def refreshSnapshotFor(s: SparkSession, dir: String): (String, String, Long) =
    snapCached(refreshSnapshotCache, dir) {
      val docs = Tables.loadSpread(s, dir, "documents")
      val split = math.ceil(
        docs.agg(max(col("doc_id"))).head().getLong(0) * 0.6).toLong
      val oldDocs = docs.filter(col("doc_id") < split)
      val lp = artifactDir("graft-refresh-labels")
      val sp = artifactDir("graft-refresh-shingles")
      DedupOps.saveClusterLabels(
        DedupOps.clusterLabels(oldDocs, NearDupTau, capFrac = None), lp)
      DedupOps.shingles(oldDocs, 3).write.mode("overwrite").parquet(sp)
      (lp, sp, split)
    }

  /** p49's persisted screening state, built ONCE per corpus dir (the
    * refreshSnapshotFor pattern, r12 — closing the VERDICT r11 p49
    * creep question at its source): the accumulated corpus's exact
    * fingerprint set, band index, and shingle sets as parquet
    * artifacts. In production these ARE the standing corpus index a
    * nightly dump screen probes — rebuilding them per invocation
    * re-shingled and re-minhashed the seen 80% on every run, benching
    * batch index construction under an "incremental screen" label
    * (and was the likeliest source of p49's three consecutive
    * above-baseline sf1 measurements, r10-r11). The measured query is
    * now the thing the op exists for: screening the new dump against
    * standing state. The oracle replays the full derivation from the
    * raw table, so the hash match proves persisted ≡ recomputed. */
  private val crossScreenCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, String)]()
  private def crossScreenStateFor(s: SparkSession, dir: String): (String, String, String) =
    snapCached(crossScreenCache, dir) {
      val docs = Tables.loadSpread(s, dir, "documents")
      val seen = docs.filter(SampleOps.hashBucket(col("doc_id")) < CrossSeenBuckets)
      val fp = artifactDir("graft-xscreen-fp")
      val bp = artifactDir("graft-xscreen-band")
      val sp = artifactDir("graft-xscreen-shingles")
      graft.ops.IncrementalCorpus.fingerprints(seen)
        .write.mode("overwrite").parquet(fp)
      DedupOps.corpusBandIndex(seen, collapseExact = true)
        .write.mode("overwrite").parquet(bp)
      DedupOps.corpusShingleSets(seen, collapseExact = true)
        .write.mode("overwrite").parquet(sp)
      (fp, bp, sp)
    }

  /** p64's seed-selection modulus (vec_id % mod == 0 → labeled seed)
    * and its captured probe centroids. */
  val LabelSeedMod = 5L
  private val labelPropCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p07's hyperplane count (adaptivePlanes over the corpus), captured
    * when the query runs so the oracle rebuilds the SAME buckets; the
    * static entry (NumPlanes) covers a dump where p07 never ran. */
  private val lshPlanes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** p13's trained quantizer, captured when the query runs so the oracle
    * SQL can replay the SAME centroids (Verify runs all queries, then
    * dumps oracleSql — same JVM). Absent (p13 not run / failed) → the
    * p13 oracle entry is omitted and the driver falls back to its
    * rows-only check. */
  private val ivfCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p27's trained quantizer, captured the same way. */
  private val ivfQCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p70's captured quantizer (its own copy, order-independent of
    * p13/p27 — the shared index means the same centers). */
  private val sqlProbeCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p77's per-cell quota and captured quantizer. */
  val DiverseN = 5
  private val diverseCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p101's fitted PAVA step (bucket → cal_ppm), captured for the
    * oracle render (the diverseCenters pattern). */
  private val isotonicFit =
    new java.util.concurrent.atomic.AtomicReference[Seq[(Long, Long)]]()

  /** p102's eval-sample bounds and captured quantizer. */
  val AnnEvalQ = 8
  val AnnEvalK = 10
  val AnnEvalNprobe = 4
  private val recallCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p103's sample/candidate/pick bounds (m = 3 matches the oracle's
    * unroll), λ in ppm, and captured quantizer. */
  val MmrQ = 4
  val MmrK0 = 8
  val MmrM = 3
  val MmrNprobe = 4
  val MmrLambdaPpm = 700000L
  private val mmrCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** p40's k-means cell-count FLOOR (semCellsFor grows it ∝ corpus)
    * and its trained centroids, captured like p13's. */
  val SemCells = 8
  private val semCenters =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** BPE merge table, trained ONCE per corpus dir and shared by p51/p52
    * (the clusterMapFor pattern: the trained artifact composes, it is
    * not re-derived per consumer). */
  private val trainedMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[BpeOps.Merge]]()
  private def trainedMergesFor(s: SparkSession, dir: String): Seq[BpeOps.Merge] =
    snapCached(trainedMergesCache, dir)(
      BpeOps.train(Tables.loadSpread(s, dir, "documents")))

  /** p51's trained merge table, captured like p13's centroids; p52
    * captures its own copy so the two queries stay order-independent. */
  private val bpeMerges =
    new java.util.concurrent.atomic.AtomicReference[Array[BpeOps.Merge]]()
  private val bpeEncMerges =
    new java.util.concurrent.atomic.AtomicReference[Array[BpeOps.Merge]]()

  /** Unigram-LM piece table, trained ONCE per corpus dir and shared by
    * p60/p61 (the trainedMergesFor pattern); captured per query so the
    * two stay order-independent. */
  private val trainedPiecesCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.ops.UnigramOps.Piece]]()
  private def trainedPiecesFor(s: SparkSession, dir: String)
      : Seq[graft.ops.UnigramOps.Piece] =
    snapCached(trainedPiecesCache, dir)(
      graft.ops.UnigramOps.train(Tables.loadSpread(s, dir, "documents")))
  private val unigramPieces = new java.util.concurrent.atomic.AtomicReference[
    Array[graft.ops.UnigramOps.Piece]]()
  private val unigramEncPieces = new java.util.concurrent.atomic.AtomicReference[
    Array[graft.ops.UnigramOps.Piece]]()

  /** p65's captured artifacts (BOTH trained tokenizers). */
  private val fertilityArtifacts = new java.util.concurrent.atomic.AtomicReference[
    (Array[BpeOps.Merge], Array[graft.ops.UnigramOps.Piece])]()

  /** p80/p81's captured tokenizer artifacts (own copies, so the SQL
    * faces stay order-independent of p51/p52/p60/p61). */
  private val sqlBpeMerges =
    new java.util.concurrent.atomic.AtomicReference[Array[BpeOps.Merge]]()
  private val sqlUnigramPieces = new java.util.concurrent.atomic.AtomicReference[
    Array[graft.ops.UnigramOps.Piece]]()

  /** p83's trained bigram-LM maps, built ONCE per corpus snapshot (the
    * bloomBitsFor pattern — two ≤ PplBuckets-entry driver maps; the
    * streaming pplGate binds the same artifact shape). */
  private val pplMapsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Map[Long, Long], Map[Long, Long])]()
  private def pplMapsFor(s: SparkSession, dir: String)
      : (Map[Long, Long], Map[Long, Long]) =
    snapCached(pplMapsCache, dir)(
      ModelOps.bigramLmMaps(Tables.load(s, dir, "documents")))

  /** p82's trained NB model, built ONCE per corpus snapshot (≤ NbBuckets
    * bucket entries + totals/priors). */
  private val nbModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, ModelOps.NbModel]()
  private def nbModelFor(s: SparkSession, dir: String): ModelOps.NbModel =
    snapCached(nbModelCache, dir)(
      ModelOps.nbModelOf(Tables.load(s, dir, "documents")))

  def oracle: Map[String, String] = staticOracle ++
    Some(lshPlanes.get()).filter(_ > 0).map(p =>
      "p07_ann_lsh" -> SimilarityOps.annTopKSql(k = 10, dims = 64, maxQid = 5,
        planes = p)) ++
    Option(ivfCenters.get()).map(c =>
      "p13_ann_ivf" -> SimilarityOps.ivfTopKSql(c.toSeq, k = 10, nprobe = 4, maxQid = 5)) ++
    Option(ivfQCenters.get()).map(c =>
      "p27_ivf_quantized" -> SimilarityOps.ivfQuantizedTopKSql(c.toSeq, k = 10, nprobe = 4, maxQid = 5)) ++
    Option(semCenters.get()).map(c =>
      "p40_semantic_dedup" -> DedupOps.semanticDedupSql(c.toSeq, EmbDupTau)) ++
    Option(bpeMerges.get()).map(m =>
      "p51_bpe_train" -> BpeOps.bpeTrainSql(m.toSeq)) ++
    Option(bpeEncMerges.get()).map(m =>
      "p52_bpe_encode" -> BpeOps.bpeEncodeSql(m.toSeq)) ++
    Option(pqBooks.get()).map(b =>
      "p56_pq_ann" -> graft.ops.PqOps.pqTopKSql(b.toSeq, k = 10, maxQid = 5,
        dims = EmbDims)) ++
    Option(hardNegCenters.get()).map(c =>
      "p57_hard_negatives" -> SimilarityOps.hardNegativesSql(c.toSeq, k = 10,
        nprobe = 4, maxQid = 8)) ++
    Option(marginCenters.get()).map(c =>
      "p99_margin_mining" -> SimilarityOps.marginMiningSql(c.toSeq, k = 4,
        nprobe = 4, MarginMinPpm)) ++
    Option(hybridCenters.get()).map(c =>
      "p95_hybrid_rrf" -> SearchOps.hybridRrfSql(nSeeds = 5, k = 10,
        centers = Some(c.toSeq), nprobe = 4)) ++
    Option(unigramPieces.get()).map(p =>
      "p60_unigram_train" -> graft.ops.UnigramOps.trainTableSql(p.toSeq)) ++
    Option(unigramEncPieces.get()).map(p =>
      "p61_unigram_encode" -> graft.ops.UnigramOps.encodeDocsSql(p.toSeq)) ++
    Option(labelPropCenters.get()).map(c =>
      "p64_label_propagation" -> SimilarityOps.labelPropagationSql(c.toSeq,
        k = 8, nprobe = 4, seedMod = LabelSeedMod)) ++
    Option(fertilityArtifacts.get()).map { case (m, p) =>
      "p65_tokenizer_fertility" -> TokenizerEval.fertilitySql(m.toSeq, p.toSeq) } ++
    // p70 replays the p13 probe (same k/nprobe/query set) through the
    // SQL surface; the oracle is the SAME trained-centroid replay — the
    // differential proves SQL face ≡ DataFrame face ≡ DuckDB rebuild
    Option(sqlProbeCenters.get()).map(c =>
      "p70_sql_ivf_probe" -> SimilarityOps.ivfTopKSql(c.toSeq, k = 10,
        nprobe = 4, maxQid = 5)) ++
    Option(diverseCenters.get()).map(c =>
      "p77_diverse_sample" -> SimilarityOps.diverseSampleSql(c.toSeq, DiverseN)) ++
    Option(isotonicFit.get()).map(f =>
      "p101_isotonic_calibration" -> ModelOps.isotonicCalSql(f)) ++
    Option(recallCenters.get()).map(c =>
      "p102_ann_recall_report" ->
        SimilarityOps.annRecallSql(c.toSeq, AnnEvalK, AnnEvalNprobe, AnnEvalQ)) ++
    Option(mmrCenters.get()).map(c =>
      "p103_mmr_rerank" ->
        SimilarityOps.mmrRerankSql(c.toSeq, MmrK0, MmrNprobe, MmrQ,
          MmrLambdaPpm)) ++
    // p80/p81 replay the p52/p61 rollups through the artifact-bound SQL
    // functions; the oracles are the SAME trained-artifact renders — the
    // differential proves SQL face ≡ batch face ≡ DuckDB rebuild
    Option(sqlBpeMerges.get()).map(m =>
      "p80_sql_bpe_encode" -> BpeOps.bpeEncodeSql(m.toSeq)) ++
    Option(sqlUnigramPieces.get()).map(p =>
      "p81_sql_unigram_encode" -> graft.ops.UnigramOps.encodeDocsSql(p.toSeq)) ++
    // p85 replays the p56 probe (same k/RerankFactor/query set) through
    // the artifact views — the same trained-books oracle render
    Option(sqlPqBooks.get()).map(b =>
      "p85_sql_pq_ann" -> graft.ops.PqOps.pqTopKSql(b.toSeq, k = 10,
        maxQid = 5, dims = EmbDims))

  private val staticOracle: Map[String, String] = Map(
    "p01_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "p02_ngram_jaccard" -> DedupOps.jaccardPairsSql(NearDupTau),
    "p86_bm25_search" -> SearchOps.bm25Sql(Bm25Terms, k = 20),
    "p87_bm25_batch" -> SearchOps.bm25BatchSql(Bm25Queries, k = 10),
    "p88_zorder_key" ->
      s"""SELECT event_id, ${LayoutOps.zorder2Sql(
            "epoch_ns(ts) // 3600000000000", "user_id")} AS z
         |FROM events ORDER BY event_id""".stripMargin,
    "p89_hll_distinct" -> SketchOps.hllSummarySql("documents", "text"),
    "p90_sql_hll" ->
      s"""SELECT est_distinct FROM (
         |${SketchOps.hllSummarySql("events", "CAST(event_id AS VARCHAR)")})""".stripMargin,
    "p91_cms_heavy_hitters" -> SketchOps.cmsHeavyHittersSql("documents"),
    // p95's oracle is trained-centroid-dependent (r15) — rendered in
    // the dynamic section above once the face has captured them,
    "p96_graph_rank" -> DedupOps.jaccardPageRankSql(NearDupTau),
    "p97_winnowing" -> DedupOps.winnowMatchesSql(),
    "p98_bradley_terry" -> PrefOps.bradleyTerrySql(),
    "p100_cluster_cards" -> DedupOps.clusterCardsSql(NearDupTau),
    "p92_hdr_quantiles" -> SketchOps.hdrQuantilesSql("events", "value"),
    "p93_sql_cms" -> SketchOps.cmsProbeSql("documents"),
    // p94 shares p92's oracle BY DESIGN: the SQL scalar face and the
    // dataflow face must answer identically
    "p94_sql_hdr" -> SketchOps.hdrQuantilesSql("events", "value"),
    "p03_minhash_lsh" -> DedupOps.jaccardPairsSql(NearDupTau, capFrac = None),
    "p04_simhash" -> DedupOps.simHashSql(),
    "p05_embedding_neardup" ->
      s"""SELECT a.vec_id AS va, b.vec_id AS vb,
         |  ${OracleSql.roundD(
             """list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
               |                               CAST(b.embedding AS DOUBLE[]))""".stripMargin, 4)} AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${SimilarityOps.usableSql("CAST(a.embedding AS DOUBLE[])")}
         |  AND ${SimilarityOps.usableSql("CAST(b.embedding AS DOUBLE[])")}
         |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                             CAST(b.embedding AS DOUBLE[])) >= $EmbDupTau
         |ORDER BY va, vb""".stripMargin,
    "p06_ann_bruteforce" ->
      s"""SELECT qid, nid, ${OracleSql.roundD("sim", 4)} AS sim, rn FROM (
        |  SELECT a.vec_id qid, b.vec_id nid,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                      CAST(b.embedding AS DOUBLE[])) DESC,
        |               b.vec_id) rn
        |  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
        |  WHERE a.vec_id < 5
        |    AND ${SimilarityOps.usableSql("CAST(a.embedding AS DOUBLE[])")}
        |    AND ${SimilarityOps.usableSql("CAST(b.embedding AS DOUBLE[])")}
        |) t WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "p07_ann_lsh" -> SimilarityOps.annTopKSql(k = 10, dims = 64, maxQid = 5),
    "p08_text_stats" ->
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
         |  len(regexp_extract_all(lower(text), '${TextOps.BpeRegex}')) AS n_bpe,
         |  length(text) AS n_chars2,
         |  ${TextOps.setFingerprintSql("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p09_lang_quality" ->
      s"""SELECT doc_id,
         |  ${TextOps.langIdSql("text")} AS lang_pred,
         |  ${TextOps.qualityScoreSql("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p10_mm_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS nbytes,
        |  hex(encode(substring(text, 1, 8))) AS head8
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p11_mm_decode" -> MediaGen.decodeSql(Seq(0, 7)),
    "p12_rolling_fp" ->
      s"""SELECT doc_id, ${TextOps.rollingFingerprintSql("text")} AS rfp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p14_repetition_filters" -> TextOps.repetitionSql(),
    "p15_decontaminate" -> DedupOps.decontaminateSql(DecontamHoldout),
    // p71: the sketch only prefilters — the exact verify makes the
    // result identical to p15's, so the same SQL is the oracle
    "p71_bloom_decontaminate" -> DedupOps.decontaminateSql(DecontamHoldout),
    "p72_bloom_screen" -> DedupOps.bloomScreenSql(DecontamHoldout),
    "p73_cdc_coverage" -> DedupOps.cdcDupCoverageSql(),
    // the model-face SQL queries share their batch twins' self-deriving
    // oracles (p47/p55/p72): the oracle retrains from the table, the
    // Spark side scores through the bound artifact — a drift in either
    // binding or evaluation breaks the hash
    "p82_sql_nb_quality" -> ModelOps.nbQualitySql(),
    "p83_sql_ppl_gate" -> ModelOps.bigramPerplexitySql(),
    "p84_sql_bloom_screen" -> DedupOps.bloomScreenSql(DecontamHoldout),
    "p74_vocab_growth" -> TextOps.vocabGrowthSql(),
    "p75_decontam_edit" -> DedupOps.removeContaminatedSpansSql(DecontamHoldout),
    "p76_periodicity" -> TextOps.periodicitySql(),
    "p78_image_ahash" -> MediaGen.imageAHashSql(),
    "p79_audio_fingerprint" -> MediaGen.audioEnergyHashSql(),
    "p20_dedup_cluster" -> DedupOps.clusterSql(NearDupTau),
    // p69: the clusterSql re-derivation wrapped with the join's output
    // shape (every doc joins its label; is_keeper = doc is its rep)
    "p69_sql_cluster_join" ->
      s"""SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
         |FROM (${DedupOps.clusterSql(NearDupTau)}) t
         |ORDER BY doc_id""".stripMargin,
    "p30_seq_packing" -> PackOps.packGreedySql(PackShards, PackBudget),
    "p21_salient_terms" -> TextOps.salientTermsSql(),
    "p22_gap_fill" -> TimeSeriesOps.gapFillSql(GapBucketNs, GapSparsify),
    "p23_window_funnel" -> TimeSeriesOps.windowFunnelSql(FunnelStages, FunnelWindowNs),
    "p24_retention" -> TimeSeriesOps.retentionSql(RetentionOriginNs, WeekNs, RetentionWeeks, RetentionEvent),
    "p25_quantized_ann" -> SimilarityOps.quantizedTopKSql(k = 10, maxQid = 5),
    "p26_keyword_search" -> TextOps.keywordSearchSql(SearchTerms),
    "p31_pii_redact" -> PiiOps.piiStatsSql(),
    "p32_substr_dedup" -> DedupOps.substrDupSql(),
    "p33_rare_ngrams" -> TextOps.rareNgramSql(),
    "p34_temperature_mix" ->
      s"""SELECT grp, count(*) AS n_kept FROM (
         |${SampleOps.temperatureMixSql(MixTargetFrac, "grp", "doc_id",
             "(SELECT *, length(bin(doc_id)) AS grp FROM documents)")}
         |) GROUP BY grp ORDER BY grp""".stripMargin,
    "p35_chunking" -> TextOps.chunkDocsSql(),
    "p41_c4_clean" -> TextOps.c4CleanSql(),
    "p42_length_curriculum" -> SampleOps.lengthCurriculumSql(),
    "p43_text_hygiene" -> TextOps.textHygieneSql(),
    "p44_importance_resampling" -> SampleOps.dsirSql(),
    "p45_leakage_split" -> SampleOps.leakageSafeSplitSql(NearDupTau),
    "p46_vocab_encode" -> TextOps.vocabEncodeSql(),
    "p47_quality_classifier" -> ModelOps.nbQualitySql(),
    "p37_prepare_corpus" -> CorpusPipeline.prepareSql(NearDupTau),
    "p38_chunk_retrieval" -> SimilarityOps.chunkRetrievalSql(RetrievalK, RetrievalQDocs),
    "p48_corpus_shuffle" -> ShardOps.shuffleManifestSql(),
    "p49_cross_screen" -> IncrementalCorpus.screenReportSql(NearDupTau, CrossSeenBuckets),
    "p50_line_dedup" -> DedupOps.lineDedupSql(),
    "p53_domain_cap" -> MixOps.domainCapSql(),
    "p54_mixture_plan" -> MixOps.mixturePlanSql(),
    "p55_ppl_filter" -> ModelOps.bigramPerplexitySql(),
    "p58_quality_ensemble" -> TextOps.ensembleSql(),
    "p59_contamination_report" -> DedupOps.contaminationReportSql(DecontamHoldout),
    // full-corpus batch re-clustering: the hash match proves the
    // incremental refresh's algebra (uncapped predicate — see
    // incrementalClusterLabels' predicate note)
    "p62_cluster_refresh" -> DedupOps.clusterSql(NearDupTau, capFrac = None),
    "p63_span_removal" -> DedupOps.removeDupSpansSql(),
    "p66_snapshot_diff" -> graft.ops.DiffOps.snapshotDiffSql(),
    "p67_template_groups" -> DedupOps.templateGroupsSql(),
    "p68_curriculum_manifest" -> ShardOps.curriculumManifestSql(),
    "p39_corpus_card" ->
      s"""WITH base AS (
         |  SELECT ${TextOps.langIdSql("text")} AS lang_pred,
         |    len(string_split_regex(trim(lower(text)), '\\s+')) AS ntok,
         |    ${TextOps.qualityScoreSql("text")} AS q,
         |    md5(text) AS h
         |  FROM documents)
         |SELECT lang_pred, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  ${OracleSql.roundD("quantile_cont(ntok, 0.5)", 4)} AS med_tok,
         |  ${OracleSql.roundD("quantile_cont(q, 0.5)", 4)} AS med_q,
         |  count(DISTINCT h) AS n_uniq
         |FROM base GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
    "p36_keep_best" ->
      s"""WITH clus AS (${DedupOps.clusterSql(NearDupTau)}),
         |q AS (SELECT doc_id, ${TextOps.qualityScoreSql("text")} AS quality
         |      FROM documents),
         |j AS (SELECT c.cluster_id, c.doc_id, q.quality
         |      FROM clus c JOIN q USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, quality,
         |        row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY quality DESC, doc_id) AS rk,
         |        count(*) OVER (PARTITION BY cluster_id) AS n_members
         |      FROM j)
         |SELECT cluster_id, doc_id AS keep_id, n_members, quality
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "p28_stratified_sample" ->
      s"""SELECT lang, doc_id, rk FROM (
         |  SELECT lang, doc_id,
         |    ${SampleOps.stratifiedRankSql("lang", "doc_id")} AS rk
         |  FROM documents) t
         |WHERE rk <= $StratifiedN ORDER BY lang, rk""".stripMargin,
    "p29_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) tok
         |  FROM documents),
         |c AS (SELECT lang, tok AS term, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |r AS (SELECT lang, term, cnt,
         |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) rk
         |      FROM c)
         |SELECT lang, rk, term, cnt FROM r WHERE rk <= $HeavyHittersK
         |ORDER BY lang, rk""".stripMargin,
    "p19_hash_sample" ->
      s"""SELECT doc_id, doc_id % 3 AS source,
         |  ${SampleOps.bucketSql("doc_id")} AS bucket
         |FROM documents
         |WHERE ${SampleOps.bucketSql("doc_id")} <
         |  CASE WHEN doc_id % 3 = 0 THEN 1000
         |       WHEN doc_id % 3 = 1 THEN 500 ELSE 250 END
         |ORDER BY doc_id""".stripMargin,
    "p17_range_join" ->
      s"""WITH p AS (
         |  SELECT event_id AS p_id, event_type AS etype, epoch_ns(ts) AS t
         |  FROM events WHERE event_id % 2 = 1),
         |iv AS (
         |  SELECT event_id AS iv_id, event_type AS etype,
         |    epoch_ns(ts) AS s0, epoch_ns(ts) + $IntervalNs AS e0
         |  FROM events WHERE event_id % 2 = 0)
         |SELECT p.p_id, p.etype, p.t,
         |  count(iv.iv_id) AS n_cover, min(iv.iv_id) AS first_iv
         |FROM p LEFT JOIN iv
         |  ON p.etype = iv.etype AND p.t BETWEEN iv.s0 AND iv.e0
         |GROUP BY 1, 2, 3 ORDER BY p_id""".stripMargin,
    "p18_sessionize" ->
      s"""WITH e AS (
         |  SELECT event_id, event_type AS etype, epoch_ns(ts) AS t FROM events),
         |flagged AS (
         |  SELECT etype, t, event_id,
         |    CASE WHEN t - lag(t) OVER (PARTITION BY etype ORDER BY t, event_id)
         |              > $SessionGapNs THEN 1 ELSE 0 END AS nf
         |  FROM e),
         |s AS (
         |  SELECT etype, t,
         |    CAST(sum(nf) OVER (PARTITION BY etype ORDER BY t, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_seq
         |  FROM flagged)
         |SELECT etype, session_seq, count(*) AS n_events,
         |  min(t) AS t_start, max(t) AS t_end
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p16_asof_join" ->
      s"""WITH l AS (
         |  SELECT event_id AS l_id, event_type AS etype, epoch_ns(ts) AS lts
         |  FROM events WHERE event_id % 2 = 1),
         |r AS (
         |  SELECT event_type AS etype, epoch_ns(ts) AS rts,
         |    min(event_id) AS r_id, arg_min(value, event_id) AS rv
         |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2)
         |SELECT l.l_id, l.etype, l.lts, r.r_id,
         |  ${OracleSql.roundD("r.rv", 4)} AS rv
         |FROM l ASOF LEFT JOIN r ON l.etype = r.etype AND r.rts <= l.lts
         |ORDER BY l_id""".stripMargin,
  )
}
