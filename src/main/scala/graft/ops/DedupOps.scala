package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs.dotf

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash group-by), n-gram Jaccard (inverted-index
  * pair-join), MinHash+LSH (banded candidate generation → exact verify),
  * SimHash (banded Hamming), embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - every stage is a shuffle on a key with bounded fan-in (shingle,
  *    band hash) — no driver-side state, no collect;
  *  - MinHash/SimHash candidate generation is linear in corpus size and
  *    shuffles only (band, hash) pairs, not document text;
  *  - exact-verify joins happen only on the candidate set;
  *  - the stop-shingle cap (ON by default) drops hyper-frequent shingles
  *    before the inverted-index pair join, bounding the per-key fan-out
  *    that would otherwise go quadratic on one hot shingle.
  */
object DedupOps {

  /** Exact dedup groups: one row per distinct text with the survivor id.
    * A pure hash aggregate — partial map-side combine, single shuffle. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))

  /** doc_id → distinct n-gram (word) shingles, exploded. Documents with
    * fewer than n tokens yield no shingles (WordNGrams returns an empty
    * array for short docs). */
  def shingles(docs: DataFrame, n: Int = 3,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Tokenize in a SEPARATE projection: lambdas of higher-order
    // functions re-evaluate captured outer expressions per array element,
    // so an inline tokens(text) inside transform() would re-run the regex
    // split ~|tokens| times per document. As a distinct multi-referenced
    // non-cheap expression it survives CollapseProject, so the split runs
    // exactly once per row.
    val w = col("__w")
    // ngrams: codegen expression, not transform(sequence(...)) — the
    // interpreted HOF pays a closure dispatch + slice per gram per doc
    // (graft.functions.WordNGrams; byte-identical output)
    docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.TextExprs.ngrams(w, n))).as("s"))
  }

  /** [[shingles]] with the per-doc distinct-shingle COUNT carried on
    * every row (r16): n is the size of the pre-explode array, so it
    * rides map-side at zero shuffle cost — the value every Jaccard
    * denominator otherwise pays a groupBy + join to recover. Row set
    * identical to [[shingles]]; `n` ≡ shingles(docs).groupBy(doc_id)
    * .count() by construction (count of exploded distinct grams). */
  private[ops] def shinglesWithN(docs: DataFrame, n: Int = 3,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"),
        array_distinct(graft.functions.TextExprs.ngrams(col("__w"), n)).as("__a"))
      .select(col("doc_id"), size(col("__a")).cast("long").as("n"),
        explode(col("__a")).as("s"))

  /** The doc's distinct word-shingle set as ONE array column — the
    * SQL-surface face (`shingles(text, n)` on /query), same grams and
    * distinct-ing as [[shingles]]; `explode` of this IS that frame.
    * The single ngrams call evaluates its token-split child once per
    * row (codegen expression, not a HOF lambda), so the two-projection
    * discipline of [[shingles]] is not needed here. */
  def shingleArr(text: Column, n: Int = DecontamN): Column =
    array_distinct(graft.functions.TextExprs.ngrams(TextOps.tokens(text), n))

  /** Benchmark-decontamination n-gram length. Real pipelines use 8-13
    * word n-grams (GPT-3 used 13); 8 fits this corpus's 10-70-token
    * documents while staying far above chance collision. */
  val DecontamN = 8

  /** Decontamination: flag corpus documents sharing ≥1 distinct n-gram
    * with a held-out evaluation set (the standard pre-training hygiene
    * pass before benchmark evaluation). Returns (doc_id, n_hits) for
    * contaminated docs, n_hits = distinct shared n-grams.
    *
    * Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    * holdout's distinct shingles BROADCAST and the corpus side stays a
    * map-side hash semi-join — no corpus shuffle until the per-doc hit
    * count, which only aggregates matching rows. */
  def decontaminate(corpus: DataFrame, holdout: DataFrame,
                    n: Int = DecontamN): DataFrame = {
    val hh = shingles(holdout, n).select(col("s")).distinct()
    shingles(corpus, n)
      .join(broadcast(hh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Bloom-prefiltered decontamination — same result as [[decontaminate]]
    * (an exact join still verifies every hit; the bloom only
    * PREfilters, so its false positives are caught and it has no
    * false negatives), but the map-side structure shipped to executors
    * is a ~1.2 bytes/element sketch instead of the holdout's distinct
    * shingle STRINGS. At a 100 TB corpus against a large holdout that is
    * the difference between broadcasting kilobytes-per-million-shingles
    * and gigabytes of text: the corpus-side scan drops ~all rows before
    * the exchange, and only candidate shingles reach the exact join.
    *
    * The prefilter is a typed filter over the broadcast sketch (the one
    * place a lambda beats a join: `BloomFilter.mightContain` has no
    * Column rendering); everything around it stays declarative. */
  def decontaminateBloom(corpus: DataFrame, holdout: DataFrame,
                         n: Int = DecontamN, fpp: Double = 0.001): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val hh = shingles(holdout, n).select(col("s")).distinct()
    // two metadata-scale driver steps: the sketch needs its capacity, and
    // stat.bloomFilter builds the sketch itself (bits, not data rows)
    val nHold = math.max(hh.count(), 1L)
    val bf = hh.stat.bloomFilter("s", nHold, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val candidates = shingles(corpus, n).as[(Long, String)]
      .filter(r => bc.value.mightContainString(r._2))
      .toDF("doc_id", "s")
    // exact verify WITHOUT broadcasting hh — shipping the full shingle
    // strings is precisely what the sketch exists to avoid; both sides
    // of this join are small (candidates are the prefiltered hits), so
    // the shuffle is on the post-bloom residue, not the corpus
    candidates
      .join(hh, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** DuckDB oracle for `decontaminate` with holdout = doc_id < maxHoldout
    * and corpus = the rest (the p15 query's split). */
  def decontaminateSql(maxHoldout: Long, n: Int = DecontamN): String = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - ${n - 2}, 1)), i -> $gram))) s
       |  FROM toks),
       |hold AS (SELECT DISTINCT s FROM sh WHERE doc_id < $maxHoldout)
       |SELECT sh.doc_id, count(*) AS n_hits
       |FROM sh JOIN hold USING (s)
       |WHERE sh.doc_id >= $maxHoldout
       |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin
  }

  // ---- pure-sketch decontamination screen (p72) ----
  // decontaminateBloom PREfilters and then exact-verifies — right when
  // candidate volume is small. When the holdout is itself huge (every
  // benchmark ever published) and an over-drop at the sketch's FP rate
  // is acceptable, production screens on the sketch ALONE: the filter
  // is constant-size (BloomBits/8 bytes at ANY holdout size), mergeable
  // across holdout shards by bitwise OR, and the corpus pass is pure
  // map — no join, no shuffle of candidates. The md5-derived probes
  // make every bit — and hence every screen decision, false positives
  // included — replayable in the DuckDB oracle.

  /** Sketch size: 2^15 bits = 4 KB — deliberately small so the
    * differential gate exercises FP-inclusive replay (at sf0.01 the
    * screen flags ~70 docs where exact flags 6 — EVERY one of those
    * over-drops hash-matches the oracle, because the sketch IS the
    * spec). Per-shingle FP ≈ (1−e^(−K·n/M))^K; a doc trips on ANY of
    * its ~40 shingles, so doc-level over-drop is ~K·40× that.
    * Production sizes M ∝ holdout for the target rate (still KBs per
    * million grams) — the dataflow is unchanged. */
  val BloomBits = 1L << 15
  val BloomK = 4

  /** Probe k's bit position for shingle s (the shared md5Bucket
    * primitive over the k-salted gram). */
  def bloomPos(s: Column, k: Int): Column =
    TextOps.md5Bucket(concat(s, lit("#" + k)), BloomBits)

  /** Distinct probe positions of a key frame's `key` column → packed
    * bit array (the collect is capped at K·distinct-keys ≤ BloomBits —
    * positions, never keys). Shared by the shingle and CDC-chunk
    * filters. */
  private def packedBloomBits(keys: DataFrame, key: String): Array[Long] = {
    val pos = keys.select(col(key)).distinct()
      .select(explode(array((0 until BloomK).map(k => bloomPos(col(key), k)): _*))
        .as("p"))
      .distinct().collect().map(_.getLong(0))
    val bits = new Array[Long]((BloomBits / 64).toInt)
    pos.foreach(p => bits((p / 64).toInt) |= (1L << (p % 64).toInt))
    bits
  }

  /** The holdout's Bloom filter as a bit-packed long array — a bounded
    * driver artifact (BloomBits/64 longs, independent of holdout size;
    * the position collect is capped at K·distinct-shingles ≤ BloomBits). */
  def bloomBits(holdout: DataFrame, n: Int = DecontamN): Array[Long] =
    packedBloomBits(shingles(holdout, n), "s")

  /** A corpus's CDC chunk-hash set as the same constant-size sketch —
    * the chunk-level membership filter an INGEST screen binds: "is this
    * arriving chunk already stored somewhere?", the CAS-store dedup
    * question, with the same mergeable-by-OR / bounded-FP contract as
    * the shingle filter ([[graft.streaming.StreamOps.cdcScreenStream]]
    * is the consumer). */
  def cdcBloomBits(corpus: DataFrame): Array[Long] =
    packedBloomBits(cdcChunks(corpus), "h")

  /** Bloom membership of shingle column `s` under trained `bits`: ALL
    * K probe bits set. The filter rides the plan as ONE array literal;
    * the test is codegen'd element_at/AND — usable in a batch filter
    * and, because it is a pure column predicate, in a STATELESS
    * streaming projection alike. */
  def bloomHit(bits: Array[Long], s: Column): Column = {
    val bitsL = typedlit(bits.toIndexedSeq)
    val masksL = typedlit((0 until 64).map(b => 1L << b))
    def isSet(p: Column): Column =
      element_at(bitsL, (p / 64L).cast("int") + 1)
        .bitwiseAND(element_at(masksL, (p % 64L).cast("int") + 1)) =!= 0L
    (0 until BloomK).map(k => isSet(bloomPos(s, k))).reduce(_ && _)
  }

  /** Screen the corpus against a TRAINED filter: (doc_id, n_hits) for
    * every corpus doc with ≥1 distinct shingle whose K probe bits are
    * ALL set — the decision the pure-sketch pass makes, bounded false
    * positives included (no exact verify, no join). */
  def bloomScreenWith(corpus: DataFrame, bits: Array[Long],
                      n: Int = DecontamN): DataFrame =
    shingles(corpus, n).filter(bloomHit(bits, col("s")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))

  /** [[bloomScreenWith]] with the filter trained in place — the
    * self-contained form; at scale the bits are a per-holdout-snapshot
    * artifact built once (PipelineQueries caches them per corpus). */
  def bloomScreen(corpus: DataFrame, holdout: DataFrame,
                  n: Int = DecontamN): DataFrame =
    bloomScreenWith(corpus, bloomBits(holdout, n), n)

  /** DuckDB oracle for [[bloomScreen]] with the p15 split: the filter's
    * bit positions re-derive from the holdout via the same md5 probes,
    * membership = all K probe positions present — bit-for-bit the same
    * decisions, so false positives match too (the sketch IS the spec). */
  def bloomScreenSql(maxHoldout: Long, n: Int = DecontamN): String = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    def posSql(s: String) =
      TextOps.md5BucketSql(s"$s||'#'||k", BloomBits)
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - ${n - 2}, 1)), i -> $gram))) s
       |  FROM toks),
       |ks(k) AS (VALUES ${(0 until BloomK).map(k => s"($k)").mkString(", ")}),
       |bloomp AS (
       |  SELECT DISTINCT ${posSql("s")} AS p
       |  FROM sh, ks WHERE doc_id < $maxHoldout),
       |probe AS (
       |  SELECT doc_id, s, k, ${posSql("s")} AS p
       |  FROM sh, ks WHERE doc_id >= $maxHoldout),
       |hits AS (
       |  SELECT doc_id, s FROM probe JOIN bloomp USING (p)
       |  GROUP BY doc_id, s HAVING count(*) = $BloomK)
       |SELECT doc_id, count(*) AS n_hits FROM hits
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- content-defined chunking (CDC) duplicate coverage (p73) ----
  // Fixed-size chunks break under insertion: one added word early in a
  // doc shifts every later boundary, and byte-identical trailing
  // content stops deduplicating. CDC (the rsync/LBFS trick, used by
  // CAS stores and long-doc dedup alike) cuts where the CONTENT says
  // so — a token whose hash lands in a fixed residue class starts a new
  // chunk — so boundaries are shift-invariant: edits perturb only the
  // chunk they touch (spec-proven). Chunks hash to md5; only
  // (hash, doc_id) ever shuffles, never chunk text.

  /** Expected tokens per chunk: boundary tokens are the ~1/CdcMod of
    * the vocabulary whose hash ≡ 0 (mod CdcMod). */
  val CdcMod = 8L

  /** True for tokens that START a new chunk. */
  private def cdcBoundary(t: Column): Column =
    TextOps.md5Bucket(t, CdcMod) === 0L

  /** The ONE chunking expression both faces share: the boundary marker
    * rides a transform (a \\u0001 sentinel prefixed to boundary
    * tokens), one split recovers the chunk strings (entries may carry
    * edge whitespace / be empty — callers trim+filter) — no
    * per-position aggregation, no O(n\u00b2) prefix scan. A drift between
    * the DataFrame and SQL faces would silently desynchronize chunk
    * hashes. */
  private def cdcSegments(text: Column): Column = {
    val sentinel = "\u0001"
    val marked = array_join(
      transform(TextOps.tokens(text),
        t => when(cdcBoundary(t), concat(lit(sentinel), t)).otherwise(t)), " ")
    split(marked, sentinel)
  }

  /** Per-doc CDC chunks: `doc_id, idx, h` (chunk index, chunk md5),
    * map-only (see [[cdcSegments]]). */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), cdcSegments(col(textCol)).as("__cs"))
      .select(col("doc_id"), posexplode(col("__cs")).as(Seq("idx", "__c")))
      .withColumn("__c", trim(col("__c")))
      .filter(length(col("__c")) > 0)
      .select(col("doc_id"), col("idx"), md5(col("__c")).as("h"))

  /** The doc's CDC chunk hashes as ONE array column — the SQL-surface
    * face (`cdc_chunks(text)` on /query): same [[cdcSegments]], same
    * hashes, usable for ad-hoc chunk-level joins in POSTed SQL. */
  def cdcChunkHashes(text: Column): Column =
    transform(filter(cdcSegments(text), c => length(trim(c)) > 0),
      c => md5(trim(c)))

  /** CDC duplicate-coverage report: for every doc, how many of its
    * chunks also appear (by hash) in at least one OTHER doc —
    * `doc_id, n_chunks, n_dup, dup_milli` (integer per-mille, exact).
    * The cross-doc spread rides ONE window over the hash shuffle
    * (min ≠ max of doc_id within a hash ⇔ ≥ 2 distinct docs — the
    * only fact the report needs), so the plan is exactly two
    * exchanges: hash, then doc (the r6 aggregate-then-rejoin shape
    * paid a third; the p78/p79 one-window discipline). Chunk text
    * never leaves the map side either way. */
  def cdcDupCoverage(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h"))
    cdcChunks(docs)
      .withColumn("__dup",
        min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_milli",
        expr("(1000 * n_dup) DIV greatest(n_chunks, 1L)"))
  }

  /** DuckDB oracle for [[cdcDupCoverage]]: the same sentinel-split
    * chunking and hash counts re-derived from raw text. */
  def cdcDupCoverageSql(table: String = "documents"): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w
       |  FROM $table),
       |chunks AS (
       |  SELECT doc_id, trim(c) AS c
       |  FROM (
       |    SELECT doc_id, unnest(string_split(array_to_string(
       |      list_transform(w, t -> CASE
       |        WHEN ${TextOps.md5BucketSql("t", CdcMod)} = 0
       |        THEN chr(1)||t ELSE t END), ' '), chr(1))) AS c
       |    FROM toks)
       |  WHERE length(trim(c)) > 0),
       |hashes AS (SELECT doc_id, md5(c) AS h FROM chunks),
       |hdocs AS (SELECT h, count(DISTINCT doc_id) AS n_docs
       |  FROM hashes GROUP BY h)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  (1000 * CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT))
       |    // greatest(count(*), 1) AS dup_milli
       |FROM hashes JOIN hdocs USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Contamination fraction above which a document counts as dirty
    * (GPT-3 appendix C removes documents by n-gram overlap with evals;
    * the fraction, not just the hit flag, is what per-corpus
    * contamination REPORTS publish). */
  val ContamDirtyTau = 0.2

  /** Per-document contamination REPORT against a holdout — the audit
    * face of [[decontaminate]]: every corpus doc appears, with its
    * distinct-shingle count, contaminated-shingle count, overlap
    * fraction, and the dirty verdict at [[ContamDirtyTau]].
    *
    * Same plan as decontaminate (holdout shingles broadcast, map-side
    * semi-join; the bloom prefilter drops in identically when the
    * holdout outgrows a broadcast) plus one per-doc shingle count that
    * rides the SAME shingle pass — the corpus still never shuffles its
    * text. Fraction compares on integer counts scaled exactly
    * (n_hits·1.0/n_shingles, one IEEE division) so the verdict replays. */
  def contaminationReport(corpus: DataFrame, holdout: DataFrame,
                          n: Int = DecontamN): DataFrame = {
    val hh = shingles(holdout, n).select(col("s")).distinct()
    val sh = shingles(corpus, n)
    val totals = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(broadcast(hh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    // anchor on the CORPUS doc list, not the shingle stream: a doc
    // shorter than the shingle width has no windows but must still
    // report (0, 0, 0.0, clean) — "every corpus doc appears" is the
    // contract auditors divide by
    corpus.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        when(col("n_shingles") > 0,
          round(col("n_hits").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)).as("frac"))
      .withColumn("dirty", col("frac") >= ContamDirtyTau)
  }

  /** DuckDB oracle for `contaminationReport` with holdout = doc_id <
    * maxHoldout and corpus = the rest (the p15 split). */
  def contaminationReportSql(maxHoldout: Long, n: Int = DecontamN): String = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - ${n - 2}, 1)), i -> $gram))) s
       |  FROM toks),
       |hold AS (SELECT DISTINCT s FROM sh WHERE doc_id < $maxHoldout),
       |tot AS (
       |  SELECT doc_id, count(*) AS n_shingles FROM sh
       |  WHERE doc_id >= $maxHoldout GROUP BY doc_id),
       |hits AS (
       |  SELECT sh.doc_id, count(*) AS n_hits
       |  FROM sh JOIN hold USING (s)
       |  WHERE sh.doc_id >= $maxHoldout GROUP BY sh.doc_id)
       |SELECT doc_id, n_shingles, n_hits, frac,
       |  frac >= $ContamDirtyTau AS dirty
       |FROM (
       |  SELECT d.doc_id,
       |    CAST(coalesce(t.n_shingles, 0) AS BIGINT) AS n_shingles,
       |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |    CASE WHEN coalesce(t.n_shingles, 0) > 0
       |      THEN ${OracleSql.roundD(
            "CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_shingles", 6)}
       |      ELSE 0.0 END AS frac
       |  FROM documents d
       |  LEFT JOIN tot t ON d.doc_id = t.doc_id
       |  LEFT JOIN hits h ON d.doc_id = h.doc_id
       |  WHERE d.doc_id >= $maxHoldout)
       |ORDER BY doc_id""".stripMargin
  }

  /** Default stop-shingle document-frequency cap: shingles present in
    * more than clamp(ceil(frac·N), floor, ceiling) documents are dropped
    * before the pair join. 1/256 is exactly representable in binary, so
    * Spark and the DuckDB oracle compute bit-identical thresholds; the
    * floor keeps small corpora intact (a shingle shared by a handful of
    * documents is dedup *evidence*, not a stop-shingle).
    *
    * The CEILING is the scale guard (round-7 finding): pair-join work is
    * Σdf² over admitted shingles, so an N-proportional cap admits
    * quadratically hotter groups as the corpus grows — the r7 sf1 bench
    * measured exactly that (p02 5.9 s → 20.2 s when the cap rose 64 →
    * 196 on the 10× corpus). With the absolute bound the per-shingle
    * pair work is O(MaxDf²) = O(1) and the whole join is O(#shingles) =
    * O(N). MinDf == MaxDf means the effective cap is the constant 64 at
    * every N; for N ≤ 16384 that is bit-identical to the old
    * max(ceil(N/256), 64), so every oracle hash at the test SFs is
    * unchanged. Docs duplicated across > MaxDf copies lose their shared
    * shingles to the cap by design — exact-hash dedup (p01) and banded
    * MinHash (p03, uncapped) are the faces that catch mega-clusters;
    * capped Jaccard is the pairwise near-dup face (see SCALE.md). */
  val StopShingleFrac: Double = 1.0 / 256.0
  val StopShingleMinDf: Long = 64L
  val StopShingleMaxDf: Long = 64L

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ tau over the capped
    * shingle universe: the inverted index drops stop-shingles (document
    * frequency > ceil(frac·N)) first, and BOTH the intersection counts
    * and the per-doc sizes are computed from the same pruned universe, so
    * the Jaccard numerator and denominator agree. The cap is the scale
    * guard: without it one hyper-frequent shingle makes the `a.s = b.s`
    * self-join quadratic on that key. `capFrac = None` gives the
    * classical uncapped Jaccard (used by minHashPairs' exact verify). */
  def ngramJaccardPairs(docs: DataFrame, tau: Double, n: Int = 3,
                        capFrac: Option[Double] = Some(StopShingleFrac)): DataFrame = {
    // no cache(): shingling is one cheap projection post-tokenize-fix, and
    // the self-join's two sides share one shuffle via ReuseExchange — an
    // explicit InMemoryRelation would cost more to build than it saves.
    // The df cap is a WINDOW over s, not a groupBy+broadcast-anti-join:
    // the window's hash-partition-by-s + sort is exactly what the SMJ
    // self-join needs, so the cap rides the join's own shuffle instead of
    // adding two serialized broadcast jobs and a third tokenize pass.
    val sh = shingles(docs, n)
    // r15 note: `pruned` has FOUR consumers (the self-join's two sides
    // plus the two sizes joins) and Catalyst re-executes the
    // tokenize→shingle→window pipeline for each, but an eager
    // localCheckpoint of the index was A/B'd BOTH ways and kept on
    // NEITHER: it read −0.3 s at sf0.1 yet +1.2 s at the 10× corpus
    // (driver-bench reps 4.9 → 6.05; block-store reads + fresh
    // downstream exchanges outgrow the saved window re-runs as data
    // scales — the runtime-reused exchange under the window already
    // shares the expensive shuffle), and checkpointing the UNCAPPED
    // path measured p62 3.8 → 5.0-5.3 s per-rep. Recompute behind the
    // reused exchange is the scale-correct shape here.
    capFrac match {
      case Some(frac) =>
        val total = docs.agg(count(lit(1)).as("ndocs"))
        import org.apache.spark.sql.expressions.Window
        val pruned = sh
          .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
          .crossJoin(broadcast(total))
          .filter(col("df") <= least(greatest(ceil(lit(frac) * col("ndocs")),
            lit(StopShingleMinDf)), lit(StopShingleMaxDf)))
          .select("doc_id", "s")
        // r16 (the uncapped branch's device, capped edition): the
        // per-doc size of the PRUNED universe rides every row via one
        // doc_id window — pruned.groupBy(doc_id).count by another name
        // — so the two sizes subtrees (each a full re-run of the
        // tokenize→shingle→df-window pipeline above the reused
        // exchange) and their two joins disappear, and the exact
        // size-compatibility prefilter (min/max with the j filter's own
        // double division — see the None branch) drops pairs before
        // the (da, db) count exchange. j spelling and result set are
        // unchanged; the p02/p96/cluster oracles re-prove it.
        val withN = pruned.withColumn("n",
          count(lit(1)).over(Window.partitionBy("doc_id")).cast("long"))
        withN.as("a").join(withN.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
              least(col("a.n"), col("b.n")).cast("double") /
                greatest(col("a.n"), col("b.n")) >= tau)
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.n").as("na"), col("b.n").as("nb"))
          .agg(count(lit(1)).as("c"))
          .select(col("da"), col("db"),
            (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("j"))
          .filter(col("j") >= tau)
      case None =>
        // r16 optimization (guide §2.3 — shuffle fewer bytes / filter
        // before the exchange; VERDICT r15 #4): the uncapped pair join
        // fed Σ C(df,2) rows (5.06 M at the 10× corpus) into the
        // (da, db) count exchange, then joined per-doc sizes back TWICE
        // to evaluate the Jaccard. Both costs fall to the same device:
        // the per-doc distinct-shingle count is the SIZE OF THE ARRAY
        // the explode comes from, so each shingle row carries `n`
        // map-side at zero shuffle cost. Then
        //  (a) the SIZE-COMPATIBILITY prefilter rides the join output
        //      BEFORE the pair exchange: J(a,b) ≤ min/max (c ≤ min and
        //      j is monotone in c, in float exactly as in ℝ — the
        //      filter evaluates min/(na+nb−min) = min/max with the
        //      SAME double division the final j filter uses, so a
        //      dropped pair is precisely one the j filter would drop);
        //  (b) the two sizes joins disappear — (na, nb) extend the
        //      groupBy keys (constant per (da, db), so the groups are
        //      identical) and j computes inline, bit-identically:
        //      same c, same long addition, same double division.
        // Result set and j values are unchanged by construction; the
        // oracle (clusterSql/jaccardPairsSql with capFrac = None) and
        // the incremental ≡ batch specs re-prove it end to end.
        val shN = shinglesWithN(docs, n)
        shN.as("a").join(shN.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
              least(col("a.n"), col("b.n")).cast("double") /
                greatest(col("a.n"), col("b.n")) >= tau)
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.n").as("na"), col("b.n").as("nb"))
          .agg(count(lit(1)).as("c"))
          .select(col("da"), col("db"),
            (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("j"))
          .filter(col("j") >= tau)
    }
  }

  /** Corpus-size threshold where the production near-dup face switches
    * from capped exact Jaccard to banded MinHash (SCALE.md routing). */
  val NearDupExactMaxDocs: Long = 1000000L

  /** The PRODUCTION near-dup face (VERDICT r7 #3): routes by corpus
    * size. Below `exactMaxDocs`, capped exact Jaccard (p02 — also the
    * VERIFY face for the banded path at any size); above it, banded
    * MinHash with candidate-only exact verify (p03), whose band shuffle
    * is O(corpus) and whose verify cost follows candidates, not Σdf²
    * over the admitted shingle universe. The routing count is one
    * cheap scan against the O(N·MaxDf²) decision it guards; pass a
    * known count via `knownDocs` to skip it (e.g. from catalog stats). */
  def nearDupPairs(docs: DataFrame, tau: Double, n: Int = 3,
                   exactMaxDocs: Long = NearDupExactMaxDocs,
                   knownDocs: Option[Long] = None,
                   knownMaxDup: Option[Long] = None): DataFrame = {
    // ONE probe scan feeds both route decisions: the corpus size (exact
    // vs banded) and the largest exact-dup cluster (whether the banded
    // plan must collapse) come out of the same md5 hash-agg. Callers
    // holding catalog stats pass BOTH (VERDICT r9 #6): knownDocs alone
    // still lets minHashPairs re-probe for maxDup on the banded route.
    val (nDocs, maxDup) = knownDocs match {
      case Some(nd) => (nd, knownMaxDup)
      case None =>
        val r = docs.groupBy(md5(coalesce(col("text"), lit(""))).as("__fp"))
          .agg(count(lit(1)).as("__c"))
          .agg(sum(col("__c")), max(col("__c"))).collect()(0)
        (if (r.isNullAt(0)) 0L else r.getLong(0),
          Some(if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    if (nDocs <= exactMaxDocs) ngramJaccardPairs(docs, tau, n)
    // the production banded face caps band buckets (MaxBandBucket) on
    // top of the exact-dup collapse — bounded work even when >4096
    // DISTINCT texts collide in one band (recall on such a family is
    // carried by the other 15 bands; documented SCALE.md tradeoff)
    else minHashPairs(docs, tau, n, maxBandBucket = Some(MaxBandBucket),
      knownMaxDup = maxDup)
  }

  /** Σdf² cost probe for the pair join: one row with the cap in force,
    * admitted/dropped distinct-shingle counts, the candidate-pair total
    * (each shingle group of document frequency df contributes
    * df·(df−1)/2 pairs — the pair-join's exact work upper bound), and
    * Σdf² over admitted shingles. The r7 sf1 regression (p02 20.2 s) was
    * attributable only by reconstructing this number; now it is one call. */
  def shingleCostStats(docs: DataFrame, n: Int = 3,
                       capFrac: Option[Double] = Some(StopShingleFrac)): DataFrame = {
    val dfs = shingles(docs, n).groupBy("s").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("ndocs"))
    val capCol = capFrac match {
      case Some(frac) => least(greatest(ceil(lit(frac) * col("ndocs")),
        lit(StopShingleMinDf)), lit(StopShingleMaxDf))
      case None => lit(Long.MaxValue)
    }
    dfs.crossJoin(broadcast(total))
      .withColumn("cap", capCol.cast("long"))
      .agg(first(col("cap")).as("cap"),
        count(when(col("df") <= col("cap"), lit(1))).as("admitted_shingles"),
        count(when(col("df") > col("cap"), lit(1))).as("dropped_shingles"),
        sum(when(col("df") <= col("cap"), col("df") * (col("df") - 1) / 2)
          .otherwise(lit(0))).cast("long").as("candidate_pairs"),
        sum(when(col("df") <= col("cap"), col("df") * col("df"))
          .otherwise(lit(0))).cast("long").as("sum_df2"))
  }

  /** DuckDB rendering of [[shingles]] (n=3): the `toks`/`sh` CTE pair
    * yielding `(doc_id, s)` per-doc-distinct word 3-grams — shared by
    * the Jaccard oracles here and the CMS oracle in [[SketchOps]]. */
  def shingleCtes(table: String): String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - 1, 1)), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) s
       |  FROM toks)""".stripMargin

  /** Shared CTE chain (toks → sh → pruned → sizes → common) used by both
    * the pair oracle and the cluster oracle. */
  private def jaccardCtes(capFrac: Option[Double],
                          table: String = "documents"): String = {
    val prunedCte = capFrac match {
      case Some(frac) =>
        s"""df AS (SELECT s, count(*) c FROM sh GROUP BY s),
           |pruned AS (
           |  SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
           |  WHERE df.c <= least(greatest(
           |    ceil($frac * (SELECT count(*) FROM $table)), $StopShingleMinDf),
           |    $StopShingleMaxDf))""".stripMargin
      case None => "pruned AS (SELECT doc_id, s FROM sh)"
    }
    s"""${shingleCtes(table)},
       |$prunedCte,
       |sizes AS (SELECT doc_id, count(*) n FROM pruned GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id da, b.doc_id db, count(*) c
       |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB oracle for ngramJaccardPairs (n=3), same cap semantics. */
  def jaccardPairsSql(tau: Double, capFrac: Option[Double] = Some(StopShingleFrac),
                      order: String = "da, db"): String =
    s"""WITH ${jaccardCtes(capFrac)}
       |SELECT da, db, ${OracleSql.roundD("c * 1.0 / (sa.n + sb.n - c)", 6)} AS j
       |FROM common
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE c * 1.0 / (sa.n + sb.n - c) >= $tau
       |ORDER BY $order""".stripMargin

  /** PageRank-style centrality over the near-dup similarity graph
    * (r14, p96): rank documents by how centrally they sit in the
    * duplicate/near-duplicate structure — the standard prioritizer for
    * which copy of a template family to KEEP (central = canonical) or
    * to inspect (hubs are boilerplate). Edges are the τ-thresholded
    * Jaccard pairs (the p02 face; at production scale the banded
    * MinHash candidates drop in — the nearDupPairs routing — since the
    * iteration only needs (da, db)).
    *
    * Arithmetic is INTEGER ppm end to end so both engines agree bit
    * for bit (no float Σ): r₀ = 1 000 000; one iteration is
    *   share(u) = r(u) DIV deg(u)
    *   r'(v)    = 150 000 + (850 · Σ_{u~v} share(u)) DIV 1000
    * — the damping-0.85 power step with floor division at the two
    * places fractions could arise. All values non-negative, so DIV
    * (truncation) IS floor on both engines.
    *
    * Scale shape: the edge list is bounded by the capped/banded pair
    * machinery (never all-pairs); it is MATERIALIZED once
    * (localCheckpoint — the connectedComponents pattern) because every
    * iteration re-reads it, and each iteration is one
    * edges⋈ranks-broadcastable-aggregate whose shuffle is O(edges).
    * Iterations are fixed (default 5) — rank deltas below ppm
    * resolution don't survive the quantization anyway. */
  def jaccardPageRank(docs: DataFrame, tau: Double, iters: Int = 5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, tau).select(col("da"), col("db"))
      .localCheckpoint(true)
    val edges = pairs.union(pairs.select(col("db"), col("da")))
      .toDF("u", "v")
    // out-degree is STATIC across power steps — materialize it once and
    // fold it into the materialized edge list: deg is referenced by the
    // rank rebuild of every step plus the final join (~iters+2 subtrees
    // in the composed plan), so an un-checkpointed deg would re-run the
    // O(edges) aggregate each time (review r14)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint(true)
    val ed = edges.join(deg, "u").localCheckpoint(true)
    // r15 optimization (guide §2.4 — remove shuffles outright): iterate
    // on INFLOW, substituting the rank's closed form
    // r_t = 150000 + (850·inflow_t) DIV 1000 into the next step's share
    // instead of materializing r per step. The edges are symmetrized, so
    // every degree-carrying node appears as a `v` and inflow's domain is
    // exactly deg's — the old per-step "rebuild r over deg with
    // left-join + fill(0)" (2 extra exchanges per step) is the identity
    // on that domain; the left+fill here is kept for the empty-graph
    // edge. Step 1 is r0 ≡ 1000000 folded in as a constant — no join at
    // all. Per step this is 2 exchanges instead of 4; the integer math
    // (DIV floors, ppm quantization) is byte-identical to the unrolled
    // oracle and the hand-computed star spec.
    // API note (ADVICE r15): iters = 0 used to return the uniform r0
    // ranks; the closed-form rewrite folds r0 into step 1, so 0 now
    // fails loudly here instead of silently returning a different frame
    require(iters >= 1, s"jaccardPageRank needs >= 1 power step, got $iters")
    var inflow = ed.select(col("v"), expr("1000000 DIV d").as("share"))
      .groupBy(col("v")).agg(sum(col("share")).as("inflow"))
    (2 to iters).foreach { _ =>
      inflow = ed
        .join(inflow.select(col("v").as("u"), col("inflow")), Seq("u"), "left")
        .na.fill(0L, Seq("inflow"))
        .select(col("v"),
          expr("(150000 + (850 * inflow) DIV 1000) DIV d").as("share"))
        .groupBy(col("v")).agg(sum(col("share")).as("inflow"))
    }
    deg.select(col("u").as("doc_id"), col("d").as("degree"))
      .join(inflow.select(col("v").as("doc_id"), col("inflow")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("inflow"))
      .select(col("doc_id"), col("degree"),
        (lit(150000L) + expr("(850 * inflow) DIV 1000")).as("rank_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Cluster cards (r14, p100): one row per near-dup cluster with ≥ 2
    * members × its top-k salient terms — size, representative (min
    * doc_id, the keeper every dedup face already elects), and the
    * terms most distinctive of the CLUSTER (cluster-tf × N/cluster-df,
    * the p21 exact-rational TF-IDF lifted from documents to clusters).
    * This is the dedup artifact's explainability face: "what is this
    * duplicate family about" — the card a pipeline shows next to a
    * keep/drop decision or a boilerplate report.
    *
    * Scale shape: rides the SHARED persisted cluster map (p20's
    * artifact — the pair join + CC are NOT re-paid here); one token
    * explode keyed by (cluster, term) with map-side combine, one
    * Zipf-bounded cluster-df aggregate, a 1-row count broadcast, and a
    * rank window per cluster. Nothing is ever all-pairs and the window
    * key (cluster) is exactly the unit of output. */
  def clusterCards(docs: DataFrame, labels: DataFrame, k: Int = 3): DataFrame = {
    // keep_id is the min-member election. Every label source in this
    // repo (clusterLabels/clusterSql, incrementalClusterLabels) labels
    // clusters BY their min member, so keep_id == cluster_id there —
    // the column carries the contract for label maps that don't
    // min-label (review r14: not an independent signal today)
    val multi = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"), min(col("doc_id")).as("keep_id"))
      .filter(col("size") >= 2)
    val tok = docs.join(labels, "doc_id")
      .join(multi.select(col("cluster_id")), "cluster_id")
      .select(col("cluster_id"), explode(TextOps.tokens(col("text"))).as("t"))
    // the p21 salience core, keyed by cluster instead of document —
    // one shared spelling of score/rank/tie-break (review r14)
    TextOps.salienceRank(tok, "cluster_id",
        multi.agg(count(lit(1)).as("n")), k)
      .join(multi, "cluster_id")
      .select(col("cluster_id"), col("size"), col("keep_id"),
        col("term"), col("score"), col("rk"))
      .orderBy(col("cluster_id"), col("rk"))
  }

  /** DuckDB oracle for [[clusterCards]]: the p20 recursive-closure
    * cluster labels feed the same multi-member filter, cluster-tf/df
    * aggregates, exact-rational score and rank. */
  def clusterCardsSql(tau: Double, k: Int = 3): String =
    s"""WITH labels AS (${clusterSql(tau)}),
       |multi AS (
       |  SELECT cluster_id, count(*) AS size, min(doc_id) AS keep_id
       |  FROM labels GROUP BY cluster_id HAVING count(*) >= 2),
       |ctf AS (
       |  SELECT l.cluster_id, t, count(*) AS ctf
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |        FROM documents) tok
       |  JOIN labels l ON l.doc_id = tok.doc_id
       |  JOIN multi m ON m.cluster_id = l.cluster_id
       |  GROUP BY l.cluster_id, t),
       |cdf AS (SELECT t, count(*) AS cdf FROM ctf GROUP BY t),
       |scored AS (
       |  SELECT cluster_id, t, ctf,
       |    ctf * ((SELECT count(*) FROM multi) * 1.0 / cdf) AS score
       |  FROM ctf JOIN cdf USING (t)),
       |rk AS (
       |  SELECT cluster_id, t, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, t) AS rk
       |  FROM scored)
       |SELECT r.cluster_id, m.size, m.keep_id, r.t AS term, r.score, r.rk
       |FROM rk r JOIN multi m USING (cluster_id)
       |WHERE r.rk <= $k ORDER BY r.cluster_id, r.rk""".stripMargin

  /** DuckDB oracle for [[jaccardPageRank]]: the p02 pair CTEs feed an
    * UNROLLED chain of `iters` integer power steps (same ppm
    * quantization, same floor divisions). */
  def jaccardPageRankSql(tau: Double, iters: Int = 5,
                         capFrac: Option[Double] = Some(StopShingleFrac)): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"step${i - 1}"
      s"""step$i AS (
         |  SELECT e.v AS doc_id,
         |    CAST(150000 + (850 * sum(p.r // d.d)) // 1000 AS BIGINT) AS r
         |  FROM edges e
         |  JOIN $prev p ON p.doc_id = e.u
         |  JOIN deg d ON d.u = e.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${jaccardCtes(capFrac)},
       |pairs AS (
       |  SELECT da, db
       |  FROM common
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE c * 1.0 / (sa.n + sb.n - c) >= $tau),
       |edges AS (SELECT da AS u, db AS v FROM pairs
       |          UNION ALL SELECT db, da FROM pairs),
       |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
       |r0 AS (SELECT u AS doc_id, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$steps
       |SELECT s.doc_id, d.d AS degree, s.r AS rank_ppm
       |FROM step$iters s JOIN deg d ON d.u = s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** MOSS-style winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — r14, p97): per document, hash the POSITIONAL word
    * n-grams (the same gram text as [[shingles]], duplicates and order
    * kept), slide a window of `w` consecutive hashes, select each
    * window's MINIMUM, and emit the distinct selected values — the
    * guarantee the paper proves: any shared run of ≥ w + n − 1 tokens
    * between two documents shares at least one fingerprint, while the
    * fingerprint density stays ~2/(w+1) of the grams. This is the
    * standard plagiarism/attribution primitive — positional, unlike
    * p02's set-Jaccard or p03's MinHash, so it localizes COPIED RUNS
    * rather than whole-document similarity.
    *
    * The hash is the 24-bit md5 prefix (the pplBucket device, full
    * width) — engine-identical by spelling, not by library. Map-only:
    * one projection per document, no shuffle. */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    // separate projections per the shingles() note: tokens and the
    // gram array are multi-referenced non-cheap expressions
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__w"))
      .select(col("doc_id"),
        graft.functions.TextExprs.ngrams(col("__w"), n).as("__g"))
      .select(col("doc_id"), transform(col("__g"),
        g => TextOps.md5Slice(g, 1, 6)).as("__h"))
      // selection step as ONE compiled pass (monotonic deque): the
      // composed array_distinct∘transform∘array_min∘slice spelling is
      // O(len·w) interpreted with a slice allocation per window — the
      // r14 mid-round bench measured it at 21 s for p97 at sf0.1;
      // WinnowMins is byte-identical (WordNGramsSpec pins it against
      // the composed form) and O(len)
      .select(col("doc_id"),
        graft.functions.TextExprs.winnowMins(col("__h"), w).as("fps"))
  }

  /** Cross-document winnowing matches: pairs sharing ≥ `minMatch`
    * fingerprints with the shared count — copied-run detection. The
    * fingerprint join carries the p02 df-cap device (a window count
    * riding the join's own shuffle) so a boilerplate fingerprint every
    * document contains can never quadratic-blow the pair space. */
  def winnowMatches(docs: DataFrame, n: Int = 3, w: Int = 4,
                    minMatch: Long = 2, maxDf: Long = StopShingleMaxDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inst = winnowFingerprints(docs, n, w)
      .select(col("doc_id"), explode(col("fps")).as("f"))
    // r15 note: the df-capped fingerprint index feeds the self-join's
    // two sides; materializing it was A/B'd at the 10× corpus and lost
    // (2.8-3.0 s lazy vs 3.1-3.5 s checkpointed) — same verdict as
    // ngramJaccardPairs' pruned index above.
    val kept = inst
      .withColumn("c", count(lit(1)).over(Window.partitionBy("f")))
      .filter(col("c") <= maxDf)
      .select("doc_id", "f")
    kept.as("a").join(kept.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= minMatch)
      .orderBy(col("da"), col("db"))
  }

  /** DuckDB oracle for [[winnowMatches]] — same grams, same 24-bit md5
    * prefix, same clamped window minima, same df cap and pair count. */
  def winnowMatchesSql(n: Int = 3, w: Int = 4, minMatch: Long = 2,
                       maxDf: Long = StopShingleMaxDf,
                       table: String = "documents"): String = {
    require(n == 3, "oracle spells the 3-gram form (like shingleCtes)")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table),
       |grams AS (
       |  SELECT doc_id, list_transform(range(1, greatest(len(w) - 1, 1)),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2]) g
       |  FROM toks),
       |hs AS (
       |  SELECT doc_id, list_transform(g,
       |    x -> (('0x'||substr(md5(x), 1, 6))::UBIGINT)::BIGINT) h
       |  FROM grams),
       |fps AS (
       |  SELECT doc_id, CASE WHEN len(h) >= 1 THEN
       |    list_distinct(list_transform(
       |      range(1, greatest(len(h) - ${w - 1}, 1) + 1),
       |      i -> list_aggregate(list_slice(h, i, i + ${w - 1}), 'min')))
       |    ELSE []::BIGINT[] END f
       |  FROM hs),
       |inst AS (SELECT doc_id, unnest(f) AS f FROM fps),
       |df AS (SELECT f, count(*) AS c FROM inst GROUP BY f),
       |kept AS (
       |  SELECT inst.doc_id, inst.f FROM inst JOIN df USING (f)
       |  WHERE df.c <= $maxDf)
       |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_match
       |FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $minMatch
       |ORDER BY da, db""".stripMargin
  }

  // ---- MinHash + LSH ----
  // 64 hash "permutations" h_i(x) = xxhash64(x, i) over xxhash64(shingle),
  // banded 16×4. Re-hashing with the index as salt avoids 64-bit multiply
  // overflow (Spark 4 ANSI mode) and is exactly as uniform.
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** doc_id → minhash signature (array<long> of NumHashes mins). */
  def minHashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    minHashSignaturesFrom(shingles(docs, n))

  private def minHashSignaturesFrom(sh: DataFrame): DataFrame = {
    val hashed = sh.withColumn("h", xxhash64(col("s")))
    val mins = (0 until NumHashes).map(i =>
      min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The 16 band hashes of a signature column — shared by the batch
    * candidate join and the streaming lookup index. */
  def bandHashes(sig: Column): Column =
    array((0 until Bands).map(b =>
      xxhash64((b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => sig(i)): _*)): _*)

  /** Per-ROW minhash signature over a pre-hashed shingle array (`hs` =
    * xxhash64 of each distinct shingle): min over xxhash64(h, i) — the
    * same hash family as minHashSignatures, but as a map-only column
    * expression instead of a grouped min, so it drops into a STREAMING
    * projection where the groupBy spelling would be a stateful
    * aggregation. Empty array → null mins (callers filter size > 0). */
  def rowSignature(hs: Column): Column =
    array((0 until NumHashes).map(i =>
      array_min(transform(hs, h => xxhash64(h, lit(i))))): _*)

  /** doc_id → distinct shingle ARRAY (the set form of `shingles`; same
    * tokenize-in-own-projection discipline). Docs too short for an
    * n-gram are dropped, exactly like the exploded form. `passthrough`
    * columns ride the map-only projections (the chunkTexts pattern) —
    * the streaming arrival path carries its event-time column this way,
    * so the ONE shingle definition serves both sides of the
    * stream-vs-static join. */
  def shingleSets(docs: DataFrame, n: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text",
                  passthrough: Seq[String] = Nil): DataFrame = {
    // the chunkTexts precedent: a passthrough named like an output or
    // internal column would silently duplicate/shadow it
    val reserved = Set("doc_id", "sh", "__w")
    passthrough.find(reserved).foreach(n => throw new IllegalArgumentException(
      s"shingleSets: passthrough column '$n' collides with a reserved name"))
    val keep = passthrough.map(col)
    docs.select(col(idCol).as("doc_id") +: keep :+ TextOps.tokens(col(textCol)).as("__w"): _*)
      .select(col("doc_id") +: keep :+
        array_distinct(graft.functions.TextExprs.ngrams(col("__w"), n)).as("sh"): _*)
      .filter(size(col("sh")) > 0)
  }

  /** One representative doc (the min-doc_id of each md5(text) group,
    * the [[exactGroups]] survivor contract) per DISTINCT text. Shared
    * by the collapsed minHashPairs plan and the corpus-side screening
    * indexes: identical text ⇒ identical shingle set ⇒ any
    * Jaccard/band decision against a member equals the decision
    * against its representative. */
  def exactReps(docs: DataFrame): DataFrame =
    docs.join(
      memberMap(docs).filter(col("doc_id") === col("rep_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** `(doc_id, rep_id)` for every doc — THE one definition of the
    * representative contract (md5(coalesce(text,'')), min doc_id):
    * [[exactReps]], the collapsed pair plan, and the routing probes all
    * derive from it so the fingerprint definition can never diverge
    * between them. */
  private def memberMap(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("fp"))
    val reps = fps.groupBy("fp").agg(min(col("doc_id")).as("rep_id"))
    fps.join(reps, "fp").select(col("doc_id"), col("rep_id"))
  }

  /** Static LSH lookup index for an arrival stream: `corpus_id, band,
    * bh`. Precompute once per corpus snapshot (persist as parquet,
    * partitioned by band at scale); StreamOps.nearDupStream probes it
    * with an equi-join per micro-batch.
    *
    * `collapseExact = true` builds over [[exactReps]] (r9): a corpus
    * mega-cluster of m exact copies otherwise puts m identical rows in
    * every one of its band buckets, making each colliding ARRIVAL join
    * m index rows and verify m identical shingle sets — the
    * stream-side face of the VERDICT r8 #1 quadratic. Use it for
    * SCREENING consumers (screen/screenReport — boolean fates are
    * provably unchanged: a doc near-dups a member iff it near-dups the
    * representative). Leave it false for consumers whose OUTPUT names
    * corpus members ([[graft.streaming.StreamOps.nearDupStream]] emits
    * one row per (arrival, corpus near-dup) — collapsing would shrink
    * its answer, not just its work). Both sides of a probe must agree:
    * pass the same flag to [[corpusShingleSets]]. */
  def corpusBandIndex(corpus: DataFrame, n: Int = 3,
                      collapseExact: Boolean = false): DataFrame = {
    val base = if (collapseExact) exactReps(corpus) else corpus
    minHashSignatures(base, n).select(col("doc_id").as("corpus_id"),
      posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
  }

  /** Static exact-verify side: `corpus_id, sh (distinct shingle array)`
    * — what the candidate join checks true Jaccard against.
    * `collapseExact` must MATCH the paired [[corpusBandIndex]] (the
    * candidate join meets the shingle sets on corpus_id). */
  def corpusShingleSets(corpus: DataFrame, n: Int = 3,
                        collapseExact: Boolean = false): DataFrame = {
    val base = if (collapseExact) exactReps(corpus) else corpus
    shingleSets(base, n).select(col("doc_id").as("corpus_id"), col("sh"))
  }

  /** Production band-bucket cap (see [[minHashCandidates]]): a (band,
    * bh) bucket holding more than this many DISTINCT-text docs is
    * dropped from candidate generation. With exact duplicates collapsed
    * first (minHashPairs), a bucket this deep means >4096 genuinely
    * distinct texts whose minima all collide in one band — either a
    * vast near-dup family (whose pairs the other 15 bands keep
    * re-finding) or a degenerate band (corpus-wide shared minima, pure
    * noise). Dropping it bounds per-bucket pair work at O(cap²) = O(1);
    * the test-SF p03 face runs UNCAPPED (None) so the oracle's exact
    * Jaccard answer is untouched. */
  val MaxBandBucket: Long = 4096L

  /** LSH candidate pairs: equal band hash in ≥1 of the 16 bands.
    * `maxBucket` caps the per-(band, bh) bucket size: a bucket of c
    * docs contributes c·(c−1)/2 candidate pairs, so one hot bucket
    * (a mega-cluster of near-identical docs, or a degenerate band hash)
    * makes the self-join quadratic on that key — the banded analog of
    * the stop-shingle cap. The cap rides the join's own shuffle as a
    * window over (band, bh), exactly the [[ngramJaccardPairs]]
    * discipline. */
  def minHashCandidates(sigs: DataFrame,
                        maxBucket: Option[Long] = None): DataFrame = {
    val exploded = sigs.select(
      col("doc_id"),
      posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
    val bands = maxBucket match {
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        exploded
          .withColumn("__c", count(lit(1)).over(Window.partitionBy("band", "bh")))
          .filter(col("__c") <= cap).drop("__c")
      case None => exploded
    }
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified ≥ tau (verify is
    * against the classical uncapped Jaccard — jaccardPairsSql(tau, None)).
    *
    * When any exact-dup cluster exceeds `collapseMinCluster` copies
    * (one hash-agg probe scan decides), exact-duplicate texts are
    * collapsed to one representative BEFORE
    * signatures (the [[exactGroups]] md5 contract): identical text ⇒
    * identical signature, so a cluster of m exact copies would flood
    * every band bucket with m colliding rows and push m²/2 candidates
    * through the verify join only to conclude j = 1.0 — the mega-cluster
    * quadratic (VERDICT r8 #1; viral boilerplate at 100 TB). With
    * representatives the banded machinery sees each distinct text once;
    * member pairs are reconstructed exactly afterwards (same text ⇒ same
    * shingle set ⇒ intra-cluster j is exactly 1.0 and a cross-cluster
    * member pair scores its representatives' j), so the output — and the
    * oracle — is bit-identical to the uncollapsed plan. The expansion
    * joins produce exactly the answer rows; only the answer itself is
    * quadratic in cluster size (a pairs API cannot do better — the
    * cluster face is the bounded-output production surface).
    *
    * Candidate generation is O(#distinct texts) + a band-key shuffle;
    * the exact verify join touches only candidates. `maxBandBucket`
    * additionally caps band buckets (see [[minHashCandidates]]) — None
    * here (the oracle-gated face); [[nearDupPairs]] passes the
    * production [[MaxBandBucket]]. */
  def minHashPairs(docs: DataFrame, tau: Double, n: Int = 3,
                   maxBandBucket: Option[Long] = None,
                   collapseMinCluster: Long = CollapseMinCluster,
                   knownMaxDup: Option[Long] = None): DataFrame = {
    // collapse only when a mega-cluster actually exists: the
    // collapse+expand machinery costs ~30% extra wall at a dup-FREE
    // sf1 (measured r9: 4.8 s vs 3.3 s on 50 k docs, 80 dups), while
    // exact-dup clusters of ≤ collapseMinCluster copies contribute
    // ≤ C(64,2) ≈ 2 k foregone candidates each — O(1) per cluster, the
    // p02 MaxDf rationale. One hash-agg probe scan decides (skipped
    // when the caller already measured it — nearDupPairs fuses this
    // into its routing scan); its cost is O(corpus) with partial
    // aggregation, trivia next to signatures.
    val maxDup = knownMaxDup.getOrElse {
      val r = docs.groupBy(md5(coalesce(col("text"), lit(""))).as("__fp"))
        .agg(count(lit(1)).as("__c")).agg(max(col("__c"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // a band-bucket CAP demands the collapsed plan whenever any exact
    // dup exists: bucket depth on the direct plan counts COPIES, so a
    // family of ~70 distinct texts duplicated ~60× would cross a
    // 4096 cap with far fewer than 4096 distinct texts and silently
    // lose recall the cap's contract (distinct texts) rules out. With
    // maxDup == 1 direct and collapsed are the same id universe.
    val directMax = if (maxBandBucket.isDefined) 1L else collapseMinCluster
    if (maxDup <= directMax) minHashPairsDirect(docs, tau, n, maxBandBucket)
    else minHashPairsCollapsed(docs, tau, n, maxBandBucket)
  }

  /** Largest exact-dup cluster minHashPairs tolerates on the direct
    * (uncollapsed) path — the p02 stop-shingle constant's rationale:
    * ≤64 copies means ≤C(64,2) band candidates per cluster, O(1). */
  val CollapseMinCluster: Long = 64L

  /** The classical banded plan — signatures over every doc. Correct at
    * any dup density; quadratic band buckets only when exact-dup
    * clusters exceed [[CollapseMinCluster]] (the router's job). */
  /** Exact-Jaccard verify of band candidates: the ONE spelling both
    * routed faces use — they are contractually bit-identical, so the
    * verify plan must not exist twice to drift apart. */
  private def verifyCandidatePairs(sh: DataFrame, cands: DataFrame,
                                   tau: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(sh.as("x"), col("da") === col("x.doc_id"))
      .join(sh.as("y"), col("db") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))).as("j"))
      .filter(col("j") >= tau)
  }

  private def minHashPairsDirect(docs: DataFrame, tau: Double, n: Int,
                                 maxBandBucket: Option[Long]): DataFrame = {
    val sh = shingles(docs, n)
    val cands = minHashCandidates(minHashSignaturesFrom(sh), maxBandBucket)
    verifyCandidatePairs(sh, cands, tau)
  }

  private def minHashPairsCollapsed(docs: DataFrame, tau: Double, n: Int,
                                    maxBandBucket: Option[Long]): DataFrame = {
    // null-text docs get the coalesce('') fingerprint (a NULL fp would
    // drop them at the members join); they shingle to nothing and fall
    // out via the rep-has-shingles gate exactly as before
    val members = memberMap(docs)
    val repDocs = exactReps(docs)
    val sh = shingles(repDocs, n)
    val cands = minHashCandidates(minHashSignaturesFrom(sh), maxBandBucket)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val repPairs = verifyCandidatePairs(sh, cands, tau)
    // expansion: intra-cluster pairs are exact copies (j = 1.0; gated on
    // the representative having ≥1 shingle — shingle-less docs never
    // appeared in the uncollapsed output either) …
    val intra = members.as("x").join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .join(sizes.withColumnRenamed("doc_id", "rep_id").select("rep_id"),
        Seq("rep_id"), "left_semi")
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        lit(1.0).as("j"))
      .filter(lit(1.0) >= tau)
    // … and a cross-cluster member pair inherits its representatives' j
    // (identical shingle sets); least/greatest restores da < db when
    // member ids interleave across clusters
    val cross = repPairs
      .join(members.as("ma"), col("da") === col("ma.rep_id"))
      .join(members.as("mb"), col("db") === col("mb.rep_id"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("da"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("db"), col("j"))
    intra.unionByName(cross)
  }

  /** Band-bucket cost probe for the banded-MinHash path (the
    * [[shingleCostStats]] analog — VERDICT r8 task 1b): one row with the
    * corpus size, the distinct-text count the collapse reduces it to,
    * the non-singleton (band, bh) bucket count, the deepest bucket, the
    * candidate-pair total Σ c·(c−1)/2 (the band self-join's exact work
    * bound), and Σc². Computed over collapsed representatives — what
    * [[minHashPairs]] actually joins. */
  def bandCostStats(docs: DataFrame, n: Int = 3): DataFrame = {
    val repDocs = exactReps(docs)
    val buckets = minHashSignatures(repDocs, n)
      .select(posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(count(lit(1)).as("c"))
    val nDocs = docs.count()
    val nReps = repDocs.count()
    buckets.agg(
        count(when(col("c") > 1, lit(1))).as("multi_buckets"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("candidate_pairs"),
        sum(col("c") * col("c")).cast("long").as("sum_c2"))
      .select(lit(nDocs).as("n_docs"), lit(nReps).as("n_reps"),
        col("multi_buckets"), col("max_bucket"), col("candidate_pairs"),
        col("sum_c2"))
  }

  // ---- SimHash: 60-bit signature from token-hash bit votes ----
  // The token hash is the top 60 bits of md5 (15 hex digits → BIGINT):
  // md5 is the one hash primitive Spark and DuckDB evaluate bit-for-bit
  // identically, which makes the whole signature oracle-verifiable —
  // an xxhash64-based simhash (round 1) could only be spec-checked.
  val SimHashBits = 60
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands // 15

  private def tokenHash60(t: Column): Column =
    TextOps.md5Slice(t, 1, 15)

  /** doc_id → 60-bit simhash + the 4 15-bit bands used for pair search. */
  def simHashSignatures(docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("t"))
      .withColumn("h", tokenHash60(col("t")))
    val votes = (0 until SimHashBits).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"v$i"))
    val sig = (0 until SimHashBits).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_.bitwiseOR(_))
    tok.groupBy("doc_id").agg(votes.head, votes.drop(1): _*)
      .select(col("doc_id"), sig.as("simhash"))
      .select(Seq(col("doc_id"), col("simhash")) ++
        (0 until SimHashBands).map(b =>
          shiftright(col("simhash"), b * SimHashBandBits)
            .bitwiseAND(lit((1L << SimHashBandBits) - 1)).as(s"band$b")): _*)
  }

  /** DuckDB oracle for simHashSignatures' (doc_id, simhash) output —
    * same md5-derived token hash, same bit votes. */
  def simHashSql(textCol: String = "text"): String = {
    val bits = (0 until SimHashBits).map(i =>
      s"CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(
       |    trim(lower($textCol)), '\\s+'))) t FROM documents),
       |h AS (SELECT doc_id, (('0x'||substr(md5(t),1,15))::UBIGINT)::BIGINT h FROM tok)
       |SELECT doc_id, $bits AS simhash FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Pairs with Hamming distance ≤ maxDist (≤3 guaranteed found by the
    * 4×15 band pigeonhole). */
  def simHashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    // no cache(): the self-join's two sides are the same subtree, so
    // ReuseExchange shares one shuffle (the ngramJaccardPairs argument at
    // :147); a cache here was never unpersisted and leaked an
    // InMemoryRelation per call for the application's lifetime
    val sigs = simHashSignatures(docs)
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimHashBands).map(b => col(s"band$b")): _*)).as(Seq("band", "bh")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Connected components over an undirected pair list — the cluster-
    * resolution step that turns near-dup PAIRS into one canonical doc
    * per duplicate cluster (the final stage of every dedup pipeline:
    * keep min(doc_id), drop the rest).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): converges
    * in O(log n) rounds regardless of component DIAMETER — the property
    * that matters at 100 TB, where naive min-label propagation pays
    * O(diameter) shuffles and a single chain-shaped component stalls the
    * whole job. Each round is two groupBy-min shuffles + a same-keyed
    * join on node id; fan-in per key is bounded (min aggregates, no
    * collect_set), and the only driver state is the O(log n) convergence
    * loop with one tiny signature action per round. Per-round
    * localCheckpoint truncates the iterated lineage so plan size stays
    * constant across rounds.
    *
    * Returns (node, rep) for every node appearing in `pairs`, where rep
    * is the component's minimum id. Nodes with no pairs are absent —
    * callers left-join and coalesce to the node itself. */
  def connectedComponents(pairs: DataFrame, aCol: String = "da",
                          bCol: String = "db", maxIter: Int = 50): DataFrame = {
    // large-star: every node > u links to u's component-min candidate;
    // small-star: every node ≤ u re-links likewise. Both keep edge count
    // ≤ input edge count after distinct, and both only shrink the min.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // r15: no distinct here — smallStar's trailing distinct already
      // canonicalizes the ROUND's output (the only set the convergence
      // signature and the next round read), and min-aggregates are
      // duplicate-blind, so the round output is row-identical with one
      // less exchange per round. Intermediate rows stay ≤ 2|E| (each
      // sym row maps to at most one (v, m) edge), never quadratic.
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).filter(col("u") =!= col("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(m, "u").select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).localCheckpoint(true)
    // convergence signature: (count, order-independent hash-sum) of the
    // canonicalized edge set — stable signature across two consecutive
    // rounds = fixpoint (collision odds ~2^-64 per round; the fixpoint
    // itself is proven, the signature only detects it)
    def sig(e: DataFrame): (Long, BigDecimal) = {
      // decimal(38,0) sum: exact and overflow-free under ANSI mode
      // single-row aggregate fetch (convergence check), not a data collect
      val r = e.agg(count(lit(1)), sum(xxhash64(least(col("u"), col("v")),
        greatest(col("u"), col("v"))).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var last = sig(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // (r15 note: a two-star-rounds-per-cycle variant was tried to
      // halve the checkpoint+signature driver round-trips and reverted:
      // near-dup graphs converge in 1-2 rounds, where it runs one extra
      // FULL edge pass at the convergence check — locally a wash,
      // strictly worse at scale where an edge pass dwarfs a round-trip.)
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // the new round is materialized (eager checkpoint) — free the
      // superseded round's blocks NOW instead of waiting for the
      // ContextCleaner: six CC-consuming queries in one session
      // otherwise stack O(rounds) checkpoint block sets each
      freeCheckpoint(edges)
      val s = sig(next)
      converged = s == last
      last = s
      edges = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: no fixpoint in $maxIter rounds")
    // at the fixpoint every edge is (node, component-min); roots appear
    // only on the right — give them a self row. Materialize the (small)
    // label map eagerly so the final edge checkpoint can be freed too —
    // only ONE bounded block set (the labels) outlives this call.
    val labels = edges.select(col("u").as("node"), col("v").as("rep"))
      .union(edges.select(col("v").as("node"), col("v").as("rep")))
      .groupBy("node").agg(min(col("rep")).as("rep"))
      .localCheckpoint(true)
    freeCheckpoint(edges)
    labels
  }

  /** Actually free a superseded localCheckpoint's blocks. A checkpointed
    * Dataset's `.unpersist()` is a NO-OP for them — it only uncaches
    * CacheManager entries, and a localCheckpoint persists the RDD
    * directly — so the blocks otherwise survive until the ContextCleaner
    * GCs the RDD object (probe-verified: getPersistentRDDs keeps the
    * entry through df.unpersist, drops it on rdd.unpersist). Only ever
    * call this on state that is never read again: unpersisting truncated
    * lineage makes the frame unrecomputable. */
  /** Drop a localCheckpoint's persisted blocks NOW instead of waiting
    * for the ContextCleaner — for frames fully consumed before return
    * (private[ops]: ModelOps' bounded-artifact training shares the
    * need). */
  private[ops] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false): Unit
      case _ => ()
    }

  /** Label every document with its near-dup cluster representative —
    * the one labeling contract shared by p20/p36/p45 and the composed
    * pipeline: cluster the `ngramJaccardPairs(tau)` graph, left-join,
    * and coalesce so singletons keep themselves. `keep` columns ride
    * the same join (resolved against `docs`), costing zero extra
    * shuffles. */
  def clusterLabels(docs: DataFrame, tau: Double,
                    keep: Seq[Column] = Nil,
                    capFrac: Option[Double] = Some(StopShingleFrac)): DataFrame = {
    val cc = connectedComponents(ngramJaccardPairs(docs, tau, capFrac = capFrac))
    docs.join(cc, docs("doc_id") === cc("node"), "left")
      .select(docs("doc_id") +:
        coalesce(col("rep"), docs("doc_id")).as("cluster_id") +: keep: _*)
  }

  /** Incrementally refresh a cluster-label map with a new batch — the
    * update face of the materialized artifact ([[saveClusterLabels]]):
    * a 100 TB corpus never re-runs its pair join from scratch when a
    * daily dump lands.
    *
    * Inputs: the OLD label map (doc_id, cluster_id), the old corpus's
    * persisted per-doc shingle rows (doc_id, s — the state p49's screen
    * already keeps), and the new batch. Edges for the merged clustering:
    *  - old labels as STAR edges (doc — its representative): stars
    *    preserve every old component's connectivity without its pairs;
    *  - new↔new: the exact pair join over the batch alone;
    *  - new↔old: one inverted-index join of batch shingles against the
    *    shingle state — cost ∝ batch, never ∝ corpus.
    * Connected components over the union then yields EXACTLY the
    * clustering a full recompute would (connectivity is preserved under
    * star contraction; cross pairs are computed exactly) — which is
    * precisely what the p62 oracle checks: DuckDB re-clusters the FULL
    * corpus from scratch and the results must hash-match.
    *
    * Predicate note: with `maxDf = None` this composes on the UNCAPPED
    * Jaccard (what the p62 full-recompute oracle checks). The
    * production stop-shingle cap is df-RELATIVE (df ≤ frac·N), which is
    * not incrementally stable — a shingle's df drifts past the
    * threshold as the corpus grows, silently changing old pair
    * decisions. `maxDf = Some(cap)` ships the incremental form: an
    * ABSOLUTE total-df threshold (old-state df + batch df; monotone
    * under appends, so a dropped shingle stays dropped) applied to BOTH
    * sides of every join — without it ONE boilerplate shingle with
    * df ∝ corpus makes the new↔old join fan out ∝ corpus, the exact
    * hot-shingle quadratic the batch cap (StopShingleMaxDf) exists to
    * prevent. The df aggregate over the state is one linear pass per
    * refresh; a production deployment keeps per-shingle df AS state and
    * increments it per batch instead. */
  def incrementalClusterLabels(oldLabels: DataFrame, oldShingles: DataFrame,
                               newDocs: DataFrame, tau: Double,
                               n: Int = 3,
                               maxDf: Option[Long] = None): DataFrame = {
    val shNewAll = shingles(newDocs, n)
    val (shNew, shOld) = maxDf match {
      case Some(cap) =>
        val dfAll = oldShingles.groupBy("s").agg(count(lit(1)).as("__dfo"))
          .join(shNewAll.groupBy("s").agg(count(lit(1)).as("__dfn")),
            Seq("s"), "full")
          .select(col("s"), (coalesce(col("__dfo"), lit(0L)) +
            coalesce(col("__dfn"), lit(0L))).as("__df"))
        val hot = dfAll.filter(col("__df") > cap).select("s")
        (shNewAll.join(hot, Seq("s"), "left_anti"),
          oldShingles.join(hot, Seq("s"), "left_anti"))
      case None => (shNewAll, oldShingles)
    }
    val oldShinglesK = shOld
    val sizesNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sizesOld = oldShinglesK.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pNN = maxDf match {
      case None =>
        // the uncapped face keeps the EXACT spelling the p62 oracle
        // re-derives
        ngramJaccardPairs(newDocs, tau, n, capFrac = None).select("da", "db")
      case Some(_) =>
        // capped: new↔new over the SAME filtered shingles as new↔old,
        // so the cap's Jaccard (denominators included) is one semantics
        shNew.as("a")
          .join(shNew.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("c"))
          .join(sizesNew.as("sa"), col("da") === col("sa.doc_id"))
          .join(sizesNew.as("sb"), col("db") === col("sb.doc_id"))
          .filter(col("c").cast("double") /
            (col("sa.n") + col("sb.n") - col("c")) >= tau)
          .select("da", "db")
    }
    val pNO = maxDf match {
      case None =>
        // r16 (guide §2.3, the ngramJaccardPairs(None) device): the
        // new side's per-doc shingle count rides each row map-side, so
        // the (da, db) count groups by na too and the sizesNew join
        // disappears; j spelling (same long adds, same double divide)
        // and row domain are unchanged — the full-recompute oracle
        // re-proves it
        shinglesWithN(newDocs, n).as("a")
          .join(oldShinglesK.as("b"), col("a.s") === col("b.s"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.n").as("na"))
          .agg(count(lit(1)).as("c"))
          .join(sizesOld.as("sb"), col("db") === col("sb.doc_id"))
          .filter(col("c").cast("double") /
            (col("na") + col("sb.n") - col("c")) >= tau)
          .select("da", "db")
      case Some(_) =>
        // capped: sizes must count the FILTERED universe, so they stay
        // aggregate-then-join
        shNew.as("a").join(oldShinglesK.as("b"), col("a.s") === col("b.s"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("c"))
          .join(sizesNew.as("sa"), col("da") === col("sa.doc_id"))
          .join(sizesOld.as("sb"), col("db") === col("sb.doc_id"))
          .filter(col("c").cast("double") /
            (col("sa.n") + col("sb.n") - col("c")) >= tau)
          .select("da", "db")
    }
    val oldEdges = oldLabels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("da"), col("cluster_id").as("db"))
    val cc = connectedComponents(pNN.union(pNO).union(oldEdges))
    // distinct: a doc_id present in BOTH sides (a re-ingested doc in an
    // overlapping refresh) must not yield duplicate output rows — the
    // p62 split is disjoint, but the public contract holds either way
    val docs = oldLabels.select("doc_id").union(newDocs.select("doc_id")).distinct()
    docs.join(cc, docs("doc_id") === cc("node"), "left")
      .select(docs("doc_id"),
        coalesce(col("rep"), docs("doc_id")).as("cluster_id"))
  }

  /** Persist a (doc_id, cluster_id) label map as a plain parquet table —
    * the IVF-index pattern (SimilarityOps.saveIvfIndex): the clustering
    * is built ONCE per corpus snapshot and every consumer (keeper
    * selection, leakage-safe splits, incremental screens) composes on
    * the artifact instead of re-running the pair join + connected
    * components. At 100 TB the pair join is the most expensive stage of
    * the corpus pipeline; recomputing it per consumer is toy-shaped. */
  def saveClusterLabels(labels: DataFrame, dir: String): Unit = {
    labels.write.mode("overwrite").parquet(dir)
    // the parquet artifact replaces the in-memory clustering state —
    // free the labeling's checkpoint blocks (the input frame must not
    // be reused after saving; consumers read the artifact)
    freeCheckpoint(labels)
  }

  /** Load a persisted cluster-label map (see [[saveClusterLabels]]). */
  def loadClusterLabels(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    spark.read.parquet(dir)

  /** DuckDB oracle for cluster resolution over ngramJaccardPairs(tau):
    * transitive closure via recursive CTE, then min-reachable label;
    * docs in no pair become their own cluster. */
  def clusterSql(tau: Double, capFrac: Option[Double] = Some(StopShingleFrac),
                 table: String = "documents"): String =
    s"""WITH RECURSIVE ${jaccardCtes(capFrac, table)},
       |pairs AS (
       |  SELECT da, db FROM common
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE c * 1.0 / (sa.n + sb.n - c) >= $tau),
       |edges AS (
       |  SELECT da AS u, db AS v FROM pairs
       |  UNION ALL SELECT db, da FROM pairs),
       |reach AS (
       |  SELECT u AS a, v AS b FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u),
       |rep AS (SELECT a AS doc_id, least(min(b), a) AS rep FROM reach GROUP BY a)
       |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_id
       |FROM $table d LEFT JOIN rep r USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact embedding-cosine near-duplicate pairs, hash-blocked for scale.
    *
    * Exactness is load-bearing: the measured similarity distribution of
    * the embeddings corpus is a continuous tail straight through tau
    * (pairs at 0.44, 0.45, 0.46, ... — not bimodal), so any sign-LSH
    * bucketing has recall < 1 at tau = 0.45 — a threshold pair disagrees
    * with each hyperplane with p = acos(tau)/π ≈ 0.35, and no affordable
    * band/probe scheme drives the miss rate to zero. LSH-then-verify is
    * the right trade only for high-similarity dedup (minHashPairs,
    * annTopK). All-pairs WORK is inherent here (the exact answer is
    * Ω(n²) comparisons); what must scale is the PLAN:
    *  - vectors are hash-blocked into B buckets and each vector is
    *    replicated to the B block-pair groups it participates in —
    *    O(n·B) shuffled rows of one vector each, no broadcast of the
    *    corpus, and each of the B(B+1)/2 groups holds ~2n/B vectors, so
    *    executor memory is bounded at any corpus size (grow B ∝ n to
    *    hold group size constant);
    *  - the Ω(n²) pair work runs in a block-local primitive loop
    *    (flatMapGroups), not as joined rows: materializing each pair
    *    through a join copies two embedding arrays per pair (~0.5 KB —
    *    ~100 GB of memcpy at 20 k vectors), ~100× the cost of the
    *    64-dim dot product itself. Measured at the 10× bench corpus:
    *    28 s as the former two-equi-join plan, 2.3 s as the kernel
    *    (B=16), identical rows. The loop replays dotf's exact arithmetic
    *    (elements widened to double, left-to-right double accumulation,
    *    null slot = 0.0), then sim = dot / (norm_a * norm_b) with norms
    *    from the same Spark-side sqrt(dotf(v,v)) — bit-identical to the
    *    join form, which the blocked==all-pairs spec and the p05
    *    oracle's hash match pin.
    */
  def embeddingNearDupPairs(emb: DataFrame, tau: Double, numBlocks: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val b = numBlocks
    val e = emb.select(col("vec_id").cast("long").as("vec_id"),
      // dotf reads a null slot as 0.0 and widens floats to double; fold
      // both in ONCE per vector so the pair loop stays branch-free
      transform(col("embedding"), x => coalesce(x.cast("double"), lit(0.0))).as("v"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("norm"),
      pmod(xxhash64(col("vec_id")), lit(b.toLong)).cast("int").as("blk"))
      // zero vectors have no cosine: 0/0 = NaN would pass ANY >= tau
      // filter (NaN compares greatest) and poison the pair set; a NaN
      // norm (one NaN component) passes `> 0` for the same
      // NaN-compares-greatest reason, so it is excluded too (review
      // r10; the p05 oracle carries the matching isnan filter)
      .filter(SimilarityOps.usable(col("norm")))
      .as[(Long, Array[Double], Double, Int)]
    // a vector in block k belongs to groups (i,k) for i<k, (k,k), and
    // (k,j) for j>k — B groups, each unordered block pair exactly once
    val replicated = e.flatMap { case (id, v, norm, blk) =>
      (0 until b).iterator.map { o =>
        val (bi, bj) = if (o <= blk) (o, blk) else (blk, o)
        (bi * b + bj, blk, id, v, norm)
      }
    }
    replicated.groupByKey(_._1).flatMapGroups { (gid, it) =>
      val bi = gid / b
      val bj = gid % b
      // unpack tuples into parallel primitive arrays ONCE — Tuple5 is
      // unspecialized, so touching ._3/._5 per PAIR would box-churn the
      // inner loop (measured ~3× on the 10× bench corpus)
      val members = it.toArray
      val left = if (bi == bj) members else members.filter(_._2 == bi)
      val right = if (bi == bj) members else members.filter(_._2 == bj)
      val lid = left.map(_._3); val lv = left.map(_._4); val ln = left.map(_._5)
      val rid = right.map(_._3); val rv = right.map(_._4); val rn = right.map(_._5)
      val out = Iterator.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < lid.length) {
        val vi = lv(i); val ni = ln(i); val idi = lid(i)
        var j = if (bi == bj) i + 1 else 0
        while (j < rid.length) {
          val vj = rv(j)
          val n = math.min(vi.length, vj.length)
          var acc = 0.0
          var k = 0
          while (k < n) { acc += vi(k) * vj(k); k += 1 }
          val sim = acc / (ni * rn(j))
          if (sim >= tau) {
            val idj = rid(j)
            out += ((math.min(idi, idj), math.max(idi, idj), sim))
          }
          j += 1
        }
        i += 1
      }
      out.result().iterator
    }.toDF("va", "vb", "sim")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells SCOPE the pair search — cosine
    * near-dup groups are resolved only WITHIN a cell, and each group
    * keeps one representative (min vec_id, via the same star-contraction
    * components as p20). Input is an ivfIndex-assigned corpus
    * (`vec_id, nvec, cell` — normalized vectors, zero vectors already
    * excluded). Returns `(vec_id, cell, keep_id, kept)` for every
    * indexed vector; `kept = false` rows are the semantic duplicates a
    * pipeline drops.
    *
    * vs p05 (hash-blocked exact all-pairs): p05 buys exactness with
    * inherent Ω(n²) pair work; SemDeDup trades the (rare) cross-cell
    * pair for pair work bounded by Σ|cell|² — with nlist ∝ corpus the
    * per-cell population is ~constant, so total work stays near-linear.
    * That is the published method's point, and exactly how the paper
    * de-duplicated LAION/C4 at scale.
    *
    * Scale shape: ONE hash shuffle on `cell` for the self-join (cells
    * are data-adaptive, so the key domain grows with the corpus and
    * hot-cell fan-out is bounded by the quantizer's balance), then the
    * O(log n) component rounds on the (sparse) near-dup pairs only. */
  def semanticDedup(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("vec_id"), col("nvec"), col("cell"))
    val pairs = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"),
        dotf(col("x.nvec"), col("y.nvec")).as("sim"))
      .filter(col("sim") >= tau)
    val rep = connectedComponents(pairs, "va", "vb")
    a.select(col("vec_id"), col("cell"))
      .join(rep, col("vec_id") === col("node"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("rep"), col("vec_id")).as("keep_id"),
        (coalesce(col("rep"), col("vec_id")) === col("vec_id")).as("kept"))
  }

  /** DuckDB oracle for semanticDedup given the TRAINED centroids (the
    * p13 pattern): replay cell assignment (rank-1 cell by dot − |c|²/2
    * over the same normalized doubles), the within-cell cosine pairs,
    * and the component resolution (recursive-CTE closure, min label —
    * the clusterSql pattern on vec_ids). */
  def semanticDedupSql(centers: Seq[Array[Double]], tau: Double): String =
    s"""WITH RECURSIVE centers(cell, cv, hn2) AS (
       |  VALUES ${SimilarityOps.centersValuesSql(centers)}),
       |nv AS (
       |  ${SimilarityOps.NormalizedCorpusSql}
       |), cellrank AS (
       |  SELECT nv.vec_id, nv.v, c.cell,
       |    row_number() OVER (PARTITION BY nv.vec_id
       |      ORDER BY (list_inner_product(nv.v, c.cv) - c.hn2) DESC, c.cell) AS cr
       |  FROM nv, centers c
       |), assigned AS (
       |  SELECT vec_id, v, cell FROM cellrank WHERE cr = 1
       |), pairs AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb
       |  FROM assigned x JOIN assigned y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE list_inner_product(x.v, y.v) >= $tau
       |), edges AS (
       |  SELECT va AS u, vb AS v FROM pairs
       |  UNION ALL SELECT vb, va FROM pairs
       |), reach AS (
       |  SELECT u AS a, v AS b FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
       |), rep AS (SELECT a AS vec_id, least(min(b), a) AS rep FROM reach GROUP BY a)
       |SELECT a.vec_id, a.cell,
       |  coalesce(r.rep, a.vec_id) AS keep_id,
       |  coalesce(r.rep, a.vec_id) = a.vec_id AS kept
       |FROM assigned a LEFT JOIN rep r USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Exact-substring duplication window length, in tokens. Real pipelines
    * dedup on ~50-token spans (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", §4: 50-token matches); 15 fits this
    * corpus's 10-70-token documents while staying far above chance
    * collision for its vocabulary. */
  val SubstrWindow = 15

  /** Per-document exact-substring duplication stats: slide a `w`-token
    * window over every document, hash each window (md5 — the primitive
    * both engines share bit-for-bit), and count, per document, how many
    * of its window INSTANCES also occur elsewhere in the corpus (globally
    * ≥ 2 occurrences) and how many occur in some OTHER document. Returns
    * `doc_id, n_windows, n_dup, n_cross` for docs with ≥ w tokens —
    * the span-level signal that document-level near-dup (p02/p03) can't
    * see: two long documents sharing one copied paragraph.
    *
    * Scale shape: window hashes shuffle once for the global count
    * (map-side partial agg bounds hot keys), the instance⋈count join
    * rides that same hash partitioning, and the per-doc rollup is the
    * only other exchange. Work is linear in corpus tokens — the
    * distributed stand-in for the suffix-array pass of the paper, which
    * is inherently sequential. */
  def substrDupStats(docs: DataFrame, w: Int = SubstrWindow): DataFrame = {
    val inst = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__w"))
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.ngrams(col("__w"), w)).as("g"))
      // r16 (guide §2.3): internal-only window-hash key as raw digest
      // bytes — half the key bytes through the reused inst exchange and
      // no hex render per gram instance; bijective with md5's hex (the
      // p63 note — this is NOT the md5-PREFIX re-key the r15 round
      // correctly refused, full-digest equality semantics are unchanged)
      .select(col("doc_id"), TextOps.md5Bin(col("g")).as("h"))
    val counts = inst.groupBy("h")
      .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("nd"))
    inst.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("c") > 1, 1)).as("n_dup"),
        count(when(col("nd") > 1, 1)).as("n_cross"))
  }

  /** DuckDB oracle for substrDupStats (same tokenizer, same md5). */
  def substrDupSql(w: Int = SubstrWindow, table: String = "documents"): String = {
    val gram = (0 until w).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table),
       |inst AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(w) - ${w - 2}), i -> md5($gram))) h
       |  FROM toks WHERE len(w) >= $w),
       |c AS (SELECT h, count(*) c, count(DISTINCT doc_id) nd FROM inst GROUP BY h)
       |SELECT doc_id, count(*) AS n_windows,
       |  count(*) FILTER (WHERE c > 1) AS n_dup,
       |  count(*) FILTER (WHERE nd > 1) AS n_cross
       |FROM inst JOIN c USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** TEMPLATE-instance detection: structural dedup for machine-generated
    * text. Instantiations of one template ("Buy item 4711 now for $12" /
    * "Buy item 9215 now for $99") can sit BELOW any Jaccard threshold
    * once enough fill-ins differ, yet are exactly the SEO/listing spam a
    * corpus wants collapsed. The structural fingerprint normalizes every
    * digit run to `0` and hashes the full in-order token stream — same
    * template ⇒ same fp, one honest content change ⇒ different fp.
    * Returns per doc: `doc_id, tfp, tsize, is_templated, keep` (keep =
    * lowest doc_id of the template group — the p01 keeper contract).
    *
    * Map-only fingerprint + ONE window over the fp (the lineDedup
    * device: group size and first-occurrence flag share the hash
    * partition); linear in corpus bytes at any scale. Production
    * normalizers add hex runs / UUIDs / emails to the same replace
    * chain without changing the plan. */
  def templateGroups(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = transform(TextOps.tokens(col("text")),
      t => regexp_replace(t, "[0-9]+", "0"))
    val fp = md5(array_join(norm, " "))
    val w = Window.partitionBy(col("tfp"))
    val wo = Window.partitionBy(col("tfp")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), fp.as("tfp"))
      .withColumn("tsize", count(lit(1)).over(w))
      .withColumn("is_templated", col("tsize") > 1)
      .withColumn("keep", row_number().over(wo) === 1)
  }

  /** DuckDB oracle for templateGroups (same normalizer, same hash). */
  def templateGroupsSql(table: String = "documents"): String =
    s"""WITH fp AS (
       |  SELECT doc_id, md5(array_to_string(list_transform(
       |    string_split_regex(trim(lower(text)), '\\s+'),
       |    t -> regexp_replace(t, '[0-9]+', '0', 'g')), ' ')) AS tfp
       |  FROM $table)
       |SELECT doc_id, tfp,
       |  count(*) OVER (PARTITION BY tfp) AS tsize,
       |  count(*) OVER (PARTITION BY tfp) > 1 AS is_templated,
       |  row_number() OVER (PARTITION BY tfp ORDER BY doc_id) = 1 AS keep
       |FROM fp ORDER BY doc_id""".stripMargin

  /** Duplicated-span REMOVAL — the editing face of [[substrDupStats]]
    * (Lee et al. §4 actually cut the duplicate occurrences out of the
    * training text; the stats op only reports them). Every w-token
    * window instance that is NOT the corpus-global first occurrence of
    * its content (order = (doc_id, position)) marks its token span for
    * removal; the cleaned document is the surviving tokens rejoined.
    * Returns `doc_id, n_tokens, n_removed, clean_fp` for EVERY doc
    * (short docs pass through untouched; clean_fp fingerprints the
    * exact cleaned token stream, so the oracle checks the edit itself,
    * not just counts).
    *
    * Plan: ONE window over the span hash flags non-first instances
    * (the lineDedup device — rn>1 implies dup, no count join needed);
    * covered positions explode from just the flagged instances; the
    * per-doc rollup joins the bounded cover set back onto the token
    * array and filters by index. Two keyed shuffles (span hash, doc
    * rollup), both linear in corpus tokens. The per-doc membership
    * test is O(|cover|) per token — bounded by document length here;
    * at 100 TB-scale span density, merge the cover set into disjoint
    * segments first (same dataflow, one extra per-doc fold). */
  def removeDupSpans(docs: DataFrame, w: Int = SubstrWindow): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
    val inst = toks.select(col("doc_id"),
        posexplode(graft.functions.TextExprs.ngrams(col("__toks"), w))
          .as(Seq("__p0", "__g")))
      // r16 (guide §2.3 — shuffle fewer bytes): the span hash is a pure
      // INTERNAL window key (never output; the oracle's md5 is likewise
      // internal to its dup CTE), so it rides the 16 raw digest bytes
      // instead of the 32-char hex render — half the key bytes through
      // the biggest exchange here (every w-token window instance), and
      // no hex render per instance. Bijective with the hex spelling, so
      // every window partition decision is identical (Md5SliceSpec).
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("i"),
        graft.ops.TextOps.md5Bin(col("__g")).as("h"))
    val win = Window.partitionBy("h").orderBy("doc_id", "i")
    val dup = inst.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") > 1)
    val cov = dup
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (w - 1))).as("cv"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list(col("cv"))).as("__cs"))
    toks.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__cs")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(
          filter(col("__toks"), (_, ix) =>
            !coalesce(array_contains(col("__cs"), (ix + 1).cast("long")),
              lit(false))), " ")).as("clean_fp"))
  }

  /** DuckDB oracle for removeDupSpans (same tokenizer, same md5, same
    * first-instance order, same rejoin). */
  def removeDupSpansSql(w: Int = SubstrWindow, table: String = "documents"): String = {
    val gram = (0 until w).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table),
       |inst AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(w) - ${w - 2})) AS i,
       |    unnest(list_transform(range(1, len(w) - ${w - 2}), i -> md5($gram))) AS h
       |  FROM toks WHERE len(w) >= $w),
       |dup AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, i,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
       |    FROM inst) WHERE rn > 1),
       |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + $w)) AS cv FROM dup),
       |cs AS (SELECT doc_id, list_sort(list(cv)) AS cs FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(len(c.cs), 0) AS BIGINT) AS n_removed,
       |  -- array_to_string([]) is NULL in DuckDB where Spark's
       |  -- array_join gives '' — coalesce for the fully-removed case
       |  md5(coalesce(array_to_string(
       |    list_filter(t.w, (x, ix) ->
       |      NOT coalesce(list_contains(c.cs, CAST(ix AS BIGINT)), false)),
       |    ' '), '')) AS clean_fp
       |FROM toks t LEFT JOIN cs c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Decontamination EDIT — the removal face of p15 (GPT-3 appendix C
    * removes the text AROUND an eval-set collision, not the whole doc):
    * every n-token window whose gram appears in the holdout cuts its
    * span from the document; cleaned text is rebuilt and fingerprinted
    * so the oracle checks the EDIT itself, not just counts
    * (`doc_id, n_tokens, n_removed, clean_fp` — p63's contract).
    *
    * Plan: the holdout's distinct grams broadcast (the p15 semi-join —
    * the bloom prefilter composes in front when the holdout outgrows
    * it); span cover + rebuild are p63's machinery: one distinct
    * cover-position explode + per-doc filter-by-index. The corpus
    * shuffles once (doc rollup), text never moves past its tokens. */
  def removeContaminatedSpans(corpus: DataFrame, holdout: DataFrame,
                              n: Int = DecontamN): DataFrame = {
    val toks = corpus.select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
    val hh = shingles(holdout, n).select(col("s")).distinct()
    val inst = toks.select(col("doc_id"),
        posexplode(graft.functions.TextExprs.ngrams(col("__toks"), n))
          .as(Seq("__p0", "s")))
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("i"), col("s"))
    val cov = inst.join(broadcast(hh), Seq("s"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("cv"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list(col("cv"))).as("__cs"))
    toks.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__cs")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(
          filter(col("__toks"), (_, ix) =>
            !coalesce(array_contains(col("__cs"), (ix + 1).cast("long")),
              lit(false))), " ")).as("clean_fp"))
  }

  /** DuckDB oracle for removeContaminatedSpans with the p15 split. */
  def removeContaminatedSpansSql(maxHoldout: Long,
                                 n: Int = DecontamN,
                                 table: String = "documents"): String = {
    val gram = (0 until n).map(k => s"w[i+$k]").mkString("||' '||")
    s"""WITH alltoks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w
       |  FROM $table),
       |toks AS (SELECT * FROM alltoks WHERE doc_id >= $maxHoldout),
       |hold AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - ${n - 2}, 1)), i -> $gram))) s
       |  FROM alltoks WHERE doc_id < $maxHoldout),
       |inst AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(w) - ${n - 2})) AS i,
       |    unnest(list_transform(range(1, len(w) - ${n - 2}), i -> $gram)) AS g
       |  FROM toks WHERE len(w) >= $n),
       |dirty AS (SELECT doc_id, i FROM inst JOIN hold ON g = s),
       |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + $n)) AS cv FROM dirty),
       |cs AS (SELECT doc_id, list_sort(list(cv)) AS cs FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(len(c.cs), 0) AS BIGINT) AS n_removed,
       |  md5(coalesce(array_to_string(
       |    list_filter(t.w, (x, ix) ->
       |      NOT coalesce(list_contains(c.cs, CAST(ix AS BIGINT)), false)),
       |    ' '), '')) AS clean_fp
       |FROM toks t LEFT JOIN cs c USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---- Global line-level dedup (CCNet §3.1: drop every duplicated
  //      paragraph/line across the WHOLE corpus, keeping the first
  //      occurrence) — the pass that kills boilerplate (nav bars, cookie
  //      banners, license headers) that document-level dedup (p01) and
  //      near-dup (p03) structurally cannot see, because the documents
  //      CARRYING the repeated line differ. ----

  /** Per-doc line-dedup report: `(doc_id, n_lines, n_kept, dedup_fp)`
    * where an occurrence survives iff it is the corpus-global FIRST
    * occurrence of that exact line (order = (doc_id, idx)), and
    * dedup_fp fingerprints the surviving text re-joined in line order.
    *
    * Plan: explode lines → ONE window over the line's md5 (`row_number
    * = 1` flags firsts; grouping by md5 is the p01 exact-dedup
    * contract, and fixed 32-char keys sort cheaper than arbitrary-
    * length lines) → per-doc rollup. Two shuffles total, both linear in
    * corpus bytes: the line-key exchange and the doc reassembly. At
    * 100 TB the line-key domain is corpus-sized but each group is tiny
    * (dup count), so no hot key; the doc rollup's state is the doc's
    * own surviving lines — bounded by document length. */
  def lineDedup(lined: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = lined.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val w = Window.partitionBy(md5(col("line"))).orderBy(col("doc_id"), col("idx"))
    lines.withColumn("__keep", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__keep"), 1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("idx"), col("line"))))),
          s => s("line")), "\n")).as("dedup_fp"))
  }

  /** DuckDB oracle for lineDedup over withSyntheticLines: same md5
    * grouping, same (doc_id, idx) first-occurrence rule, same re-join.
    * DuckDB's ordered-aggregate `list(ln ORDER BY idx)` replays the
    * sort_array(struct) reassembly. */
  def lineDedupSql(table: String = "documents"): String =
    s"""WITH lined AS (${TextOps.syntheticLinesSql(table)}),
       |e AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(l)+1),
       |    i -> {'idx': i, 'ln': l[i]}), recursive := true)
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM lined)),
       |f AS (
       |  SELECT doc_id, idx, ln,
       |    row_number() OVER (PARTITION BY md5(ln) ORDER BY doc_id, idx) = 1 AS keep
       |  FROM e)
       |SELECT doc_id, count(*) AS n_lines, count(*) FILTER (keep) AS n_kept,
       |  md5(coalesce(array_to_string(list(ln ORDER BY idx) FILTER (keep),
       |    chr(10)), '')) AS dedup_fp
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
