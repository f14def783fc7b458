package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scored keyword search: Okapi BM25 over the corpus (VERDICT r7 #7 —
  * the reference image installs DuckDB's `fts` extension
  * (reference Dockerfile:11) but nothing in its code exercises it;
  * rather than declaring the capability out of scope, this is the
  * `match_bm25` analog re-expressed Spark-first).
  *
  * Scale shape (the part that matters at 100 TB): the per-document
  * work — token split, document length, per-term frequencies — is a
  * single MAP-ONLY projection over the corpus (array lambdas, no
  * explode, no shuffle); the global statistics the formula needs
  * (N, avgdl, per-term document frequencies) are ONE 1-row aggregate
  * broadcast back; scoring is again map-only, and the top-k is a
  * TakeOrdered (per-partition heads + driver merge), not a global
  * sort. Total cost: two corpus scans, zero shuffles of document data.
  * An inverted-index variant only wins when queries vastly outnumber
  * corpus passes; for pipeline-style batch filtering this is the plan
  * a 1000-executor cluster wants.
  *
  * Float discipline (differential oracle): per-term contributions are
  * rounded to 6 dp (OracleSql.roundD parity) and summed in FIXED term
  * order as a left-associated `+` chain — never a float SUM aggregate,
  * whose accumulation order is engine- and partition-dependent. The
  * final score rounds to 4 dp; ordering ties break on doc_id. */
object SearchOps {

  /** Okapi BM25 defaults (the same constants DuckDB's fts and Lucene
    * document). */
  val K1 = 1.2
  val B = 0.75

  /** Lucene/DuckDB-style smoothed idf: ln(1 + (N − df + 0.5)/(df + 0.5)).
    * Always positive, so a match never scores 0. */
  private def idf(n: Column, df: Column): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** Top-k BM25 scores for `terms` over `docs`. Output: doc_id,
    * matches (distinct query terms present), score — score DESC,
    * doc_id ASC, first k rows. */
  def bm25(docs: DataFrame, terms0: Seq[String], k: Int = 20,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // dedupe: a repeated query term would double-count its contribution
    // and overcount `matches` ("distinct query terms present").
    // Lowercase FIRST (the scoreCol face already does): doc tokens are
    // lowercased by TextOps.tokens, so a raw 'Paris' would silently
    // match nothing while match_bm25 scored it
    val terms = terms0.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // tokenize ONCE in its own projection (the shingles discipline:
    // array lambdas re-evaluate captured outer expressions per element)
    val pre = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .select(
        col("doc_id") +: size(col("__w")).as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__w"), x => x === lit(t))).as(s"tf$i")
          }: _*)
    val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("sdl") +:
      terms.indices.map(i =>
        sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = pre.agg(statCols.head, statCols.tail: _*)
    val scored = pre.crossJoin(broadcast(stats))
    val avgdl = col("sdl").cast("double") / col("n")
    val contribs = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val c = idf(col("n"), col(s"df$i")) *
        (tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) + lit(B) * (col("dl") / avgdl)))
      when(col(s"tf$i") > 0, round(c, 6)).otherwise(lit(0.0))
    }
    val matched = terms.indices
      .map(i => (col(s"tf$i") > 0).cast("int"))
      .reduceLeft(_ + _)
    scored
      .filter(matched > 0)
      .select(col("doc_id"), matched.as("matches"),
        round(contribs.reduceLeft(_ + _), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus statistics backing the artifact-bound scorer: the full
    * (term, df) table plus a 1-row (n, sdl) totals frame. One explode
    * + Zipf-bounded groupBy — the same cost class as the p46 vocab
    * pass; the df domain is Heaps-bounded, never corpus-sized. */
  def corpusStats(docs: DataFrame,
                  textCol: String = "text"): (DataFrame, DataFrame) = {
    val toks = docs.select(TextOps.tokens(col(textCol)).as("__w"))
    val dfTable = toks
      .select(explode(array_distinct(col("__w"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val totals = toks.agg(count(lit(1)).as("n"), sum(size(col("__w"))).as("sdl"))
    (dfTable, totals)
  }

  /** Driver-side scoring model: N, avgdl, and the term→df map. The
    * vocabulary loads highest-df first up to `maxVocab` — a dropped
    * term is by construction rarer than every kept one, and treating
    * its df as 0 only nudges an already-maximal idf; the common terms
    * whose df actually shapes scores always fit. */
  final case class Bm25Model(n: Long, avgdl: Double, df: Map[String, Long])

  def modelOf(dfTable: DataFrame, totals: DataFrame,
              maxVocab: Int = 1 << 20): Bm25Model = {
    val t = totals.collect()(0)
    val n = t.getLong(0)
    // sdl aggregates to NULL when every text is NULL (sum over no
    // values): n > 0 with a null sdl must not NPE the artifact build
    val avgdl = if (n == 0 || t.isNullAt(1)) 1.0 else t.getLong(1).toDouble / n
    val dfMap = dfTable.orderBy(col("df").desc, col("term"))
      .limit(maxVocab).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Bm25Model(n, avgdl, dfMap)
  }

  /** Scalar BM25 score of one text against a fixed query, with the
    * corpus stats baked as literals (the artifact-bound SQL face —
    * `match_bm25(text, 'query terms')` on /query). ONE tokenize and
    * ONE array pass: dl and every per-term tf accumulate through a
    * single `aggregate` fold, so the t-term query costs one scan of
    * the token array, not t regex splits (the shingles discipline,
    * scalar-expression edition). Same formula, same 6dp-per-term /
    * 4dp-total rounding as [[bm25]]. */
  def scoreCol(text: Column, query: String, model: Bm25Model): Column = {
    val terms = query.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .filter(_.nonEmpty).toSeq.distinct
    require(terms.nonEmpty, "match_bm25: query has no terms")
    val zero = struct(
      lit(0L).as("dl") +: terms.indices.map(i => lit(0L).as(s"tf$i")): _*)
    val folded = aggregate(
      TextOps.tokens(text), zero,
      (acc, x) => struct(
        (acc.getField("dl") + lit(1L)).as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            (acc.getField(s"tf$i") +
              when(x === lit(t), lit(1L)).otherwise(lit(0L))).as(s"tf$i")
          }: _*))
    val dl = folded.getField("dl").cast("double")
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      val dfT = model.df.getOrElse(t, 0L)
      val idf = math.log((model.n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      val tf = folded.getField(s"tf$i").cast("double")
      val c = lit(idf) * (tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) + lit(B) * (dl / lit(model.avgdl))))
      when(folded.getField(s"tf$i") > 0, round(c, 6)).otherwise(lit(0.0))
    }
    round(contribs.reduceLeft(_ + _), 4)
  }

  /** Batch BM25 for MANY queries via posting lists — the
    * inverted-index face SCALE.md's p86 row defers to when queries
    * vastly outnumber corpus passes. One tokenize pass builds postings
    * RESTRICTED to the query vocabulary (map-side literal-IN at the
    * explode, the p26 shape), so the only corpus-keyed shuffles carry
    * (doc, term∈queries) rows — at 100 TB that is the matching slice,
    * not the corpus. Stats (N, avgdl, per-term df) are dimension-sized
    * broadcasts; the query table broadcasts onto postings; top-k is a
    * per-qid rank window.
    *
    * Float discipline, aggregation edition: the per-(qid, doc) score
    * IS a SUM here, and float sums are accumulation-order-dependent —
    * so each term contribution quantizes to integer MICRO-units
    * (round(c·10⁶) as BIGINT, the p65 integer-ratio device) and the
    * sum is exact integer arithmetic. Output is `score_micro` BIGINT:
    * no float ever crosses the oracle compare. */
  def bm25Batch(docs: DataFrame, queries: Seq[(Int, Seq[String])],
                k: Int = 10): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val spark = docs.sparkSession
    // lowercase like bm25/scoreCol: doc tokens are lowercased, so a raw
    // uppercase term would silently match nothing
    val queriesLc = queries.map { case (q, ts) => (q, ts.map(_.toLowerCase(java.util.Locale.ROOT))) }
    val allTerms = queriesLc.flatMap(_._2).distinct
    // dl rides the postings rows from the start (a grouping column,
    // constant per doc): joining a corpus-sized (doc, dl) frame back
    // onto postings would shuffle the whole corpus — the exact cost
    // this face exists to avoid. The array filter runs BEFORE the
    // explode, so non-matching tokens never become rows.
    //
    // r15 note: postings, totals and dfs are three consumers of the
    // tokenized corpus; a materialized (localCheckpoint) shared frame
    // was A/B'd and LOST at the 10× corpus (p87 2.0 → 2.6 s steady —
    // block-store reads plus fresh downstream exchanges cost more than
    // re-running the codegen tokenize behind the runtime-reused
    // exchange), so `pre` stays lazy; the shared projection just keeps
    // dl/matched-terms in one spelling for all three consumers.
    val pre = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__w"))
      .select(col("doc_id"), size(col("__w")).as("dl"),
        filter(col("__w"), x => x.isin(allTerms: _*)).as("__m"))
    val postings = pre
      .select(col("doc_id"), col("dl"), explode(col("__m")).as("t"))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
    val totals = pre.agg(
      count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val dfs = postings.groupBy("t").agg(countDistinct(col("doc_id")).as("df"))
    import spark.implicits._
    val qdf = queriesLc.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("qid", "t")
    val avgdl = col("sdl").cast("double") / col("n")
    // ONE spelling of the smoothed idf (the private helper bm25 uses):
    // an inline copy here once risked silently desynchronizing the two
    // faces and their oracles on a smoothing tweak
    val c = idf(col("n"), col("df")) *
      (col("tf").cast("double") * lit(K1 + 1)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(1 - B) + lit(B) * (col("dl") / avgdl)))
    val perTerm = postings
      .join(broadcast(qdf), "t")
      .join(broadcast(dfs.as("d")), "t")
      .crossJoin(broadcast(totals))
      .select(col("qid"), col("doc_id"),
        round(c * lit(1000000.0)).cast("long").as("micro"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    perTerm.groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("matches"), sum(col("micro")).as("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("qid"), col("rn"))
  }

  /** The smoothed-BM25 per-(term,doc) score body + the corpus CTE
    * fragments shared by [[bm25BatchSql]] and [[hybridRrfSql]] — ONE
    * spelling each (review r14: an inline copy of `core` in the hybrid
    * oracle was the same silent-desync channel the idf helper's
    * comment warns about). */
  private def bm25CoreSql: String =
    "ln((n - df + 0.5) / (df + 0.5) + 1.0) * " +
      s"(CAST(tf AS DOUBLE) * ${K1 + 1}) / " +
      s"(CAST(tf AS DOUBLE) + $K1 * (${1 - B} + $B * (dl / (CAST(sdl AS DOUBLE) / n))))"
  private def toksCteSql(table: String): String =
    s"SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table"
  private val TotalsCteSql = "SELECT count(*) AS n, sum(len(w)) AS sdl FROM toks"
  private val DfsCteSql = "SELECT t, count(DISTINCT doc_id) AS df FROM post GROUP BY t"

  /** DuckDB oracle for [[bm25Batch]]: same postings, same micro-unit
    * quantization (roundD at scale 0 reproduces Spark's HALF_UP), same
    * integer sum — order-independent on both sides by construction. */
  def bm25BatchSql(queries: Seq[(Int, Seq[String])], k: Int = 10,
                   table: String = "documents"): String = {
    // lowercase like the face (doc tokens are lowercased in both engines)
    val qlc = queries.map { case (q, ts) => (q, ts.map(_.toLowerCase(java.util.Locale.ROOT))) }
    val allTerms = qlc.flatMap(_._2).distinct
      .map(OracleSql.sqlStr).mkString(", ")
    val qrows = qlc.flatMap { case (q, ts) =>
      ts.distinct.map(t => s"($q, ${OracleSql.sqlStr(t)})") }.mkString(", ")
    val core = bm25CoreSql
    s"""WITH toks AS (
       |  ${toksCteSql(table)}),
       |post AS (
       |  SELECT doc_id, dl, t, count(*) AS tf FROM (
       |    SELECT doc_id, len(w) AS dl,
       |      unnest(list_filter(w, x -> x IN ($allTerms))) AS t
       |    FROM toks)
       |  GROUP BY doc_id, dl, t),
       |totals AS ($TotalsCteSql),
       |dfs AS ($DfsCteSql),
       |q(qid, t) AS (VALUES $qrows),
       |per_term AS (
       |  SELECT q.qid, p.doc_id,
       |    CAST(${OracleSql.roundD(s"($core) * 1000000.0", 0)} AS BIGINT) AS micro
       |  FROM post p
       |  JOIN q ON p.t = q.t
       |  JOIN dfs ON p.t = dfs.t
       |  CROSS JOIN totals),
       |scored AS (
       |  SELECT qid, doc_id, count(*) AS matches,
       |    CAST(sum(micro) AS BIGINT) AS score_micro -- DuckDB sum(BIGINT)=HUGEINT
       |  FROM per_term GROUP BY qid, doc_id)
       |SELECT qid, doc_id, matches, score_micro, rn FROM (
       |  SELECT qid, doc_id, matches, score_micro,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score_micro DESC, doc_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** DuckDB oracle for [[bm25]] — same tokenization as the dedup
    * oracles, same rounded-contribution chain in the same term order. */
  def bm25Sql(terms0: Seq[String], k: Int = 20,
              table: String = "documents"): String = {
    // mirror bm25's lowercase + dedupe exactly
    val terms = terms0.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = ${OracleSql.sqlStr(t)})) AS tf$i" }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val contribs = terms.indices.map { i =>
      val core = s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * " +
        s"(CAST(tf$i AS DOUBLE) * ${K1 + 1}) / " +
        s"(CAST(tf$i AS DOUBLE) + $K1 * (${1 - B} + $B * (dl / (CAST(sdl AS DOUBLE) / n))))"
      s"CASE WHEN tf$i > 0 THEN ${OracleSql.roundD(core, 6)} ELSE 0.0 END"
    }.mkString(" + ")
    val matched = terms.indices.map(i =>
      s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') w FROM $table),
       |pre AS (
       |  SELECT doc_id, len(w) AS dl, $tfs FROM toks),
       |stats AS (
       |  SELECT count(*) AS n, sum(dl) AS sdl, $dfs FROM pre)
       |SELECT doc_id, $matched AS matches,
       |  ${OracleSql.roundD(contribs, 4)} AS score
       |FROM pre, stats
       |WHERE ($matched) > 0
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Hybrid retrieval with reciprocal-rank fusion (r14): the standard
    * RAG/curation primitive — fuse a DENSE ranking (embedding cosine,
    * [[SimilarityOps.bruteForceTopK]]'s shape) with a SPARSE ranking
    * (BM25 more-like-this: each seed DOCUMENT's distinct tokens as the
    * query, [[bm25Batch]]'s posting shape) via
    * `RRF(d) = Σ_lists 1/(kRrf + rank_list(d))` (Cormack et al. 2009,
    * kRrf = 60 the published default).
    *
    * Float discipline: each list's contribution is
    * `round(1e6 / (kRrf + rank))` in integer MICRO-units (no exact-.5
    * case exists for kRrf + rank < 128, and OracleSql.roundD carries
    * HALF_UP parity anyway), fused by integer addition — no float SUM
    * whose order could differ between engines. A doc absent from one
    * list contributes 0 from it (the standard RRF convention); the
    * seed itself is excluded from the FUSED output (the sparse list
    * ranks it #1 by construction — it contains all its own terms — and
    * that rank-1 slot is kept, not re-packed, in both engines).
    *
    * Scale shape: the seed queries are a BOUNDED driver-side collect
    * (nSeeds documents — the LM-maps/PQ-codebook artifact pattern);
    * both rankings reduce to nSeeds × k rows BEFORE the fusion join,
    * so the fuse is a join of two top-k lists, never corpus-sized. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, nSeeds: Int,
                k: Int = 10, kRrf: Int = 60): DataFrame =
    hybridRrfWith(docs,
      SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") < nSeeds), k),
      nSeeds, k, kRrf)

  /** [[hybridRrf]] with the DENSE ranking supplied by the caller as a
    * `(qid, nid, rn)` top-k frame (r15, VERDICT r14 #5 — the SCALE.md
    * promise "the dense side swaps to the IVF probe without touching
    * the fusion" made real): the declared p95 face routes the dense
    * side through the SHARED persisted IVF index (`ivfTopKWith`, the
    * p13/p99 plan — cell-pruned probes instead of one full corpus scan
    * per seed batch), while [[hybridRrf]] keeps the brute-force
    * spelling as the exact-recall reference (spec: at full probe the
    * fused outputs agree — on the pinned corpus; the two dense paths
    * spell cosine differently (dot/(|q||n|) on raw vectors vs dot of
    * pre-normalized ones), so a pair within ~1 ulp of a rank boundary
    * COULD order differently under the two spellings — the same
    * bounded, gate-tested risk ivfTopKSql documents for its
    * assignment path). The fusion join, integer micro-unit RRF, and
    * seed handling are shared verbatim. */
  def hybridRrfWith(docs: DataFrame, dense0: DataFrame, nSeeds: Int,
                    k: Int = 10, kRrf: Int = 60): DataFrame =
    rrfFuse(sparseRanking(docs, nSeeds, k),
      dense0.select(col("qid"), col("nid").as("id"), col("rn").as("rd")),
      k, kRrf)

  /** The BM25 more-like-this ranking of [[hybridRrfWith]]'s sparse side
    * as a (qid, id, rs) top-k frame: seed queries are a bounded driver
    * collect, ranking is [[bm25Batch]]. */
  private def sparseRanking(docs: DataFrame, nSeeds: Int, k: Int): DataFrame = {
    val seeds: Seq[(Int, Seq[String])] = docs
      .filter(col("doc_id") < nSeeds)
      .select(col("doc_id"),
        array_distinct(graft.ops.TextOps.tokens(col("text"))).as("__t"))
      .collect()
      // tokens(NULL) is a null array: getSeq returns null and nonEmpty
      // would NPE the driver (review r14); the oracle's seedq CTE drops
      // the same doc (unnest of a NULL list yields no rows)
      .map(r => (r.getLong(0).toInt,
        Option(r.getSeq[String](1)).getOrElse(Seq.empty)))
      .filter(_._2.nonEmpty)
      .sortBy(_._1).toSeq
    bm25Batch(docs, seeds, k)
      .select(col("qid").cast("long").as("qid"),
        col("doc_id").as("id"), col("rn").as("rs"))
  }

  /** The integer micro-unit RRF fusion shared by both hybrid faces —
    * ONE spelling (the bm25CoreSql discipline). */
  private def rrfFuse(sparse: DataFrame, dense: DataFrame,
                      k: Int, kRrf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def rrfMicro(rn: Column): Column =
      round(lit(1000000.0) / (lit(kRrf) + rn.cast("double"))).cast("long")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("fused_micro").desc, col("id"))
    sparse.join(dense, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (coalesce(rrfMicro(col("rs")), lit(0L)) +
          coalesce(rrfMicro(col("rd")), lit(0L))).as("fused_micro"),
        col("rs"), col("rd"))
      .filter(col("id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** DuckDB oracle for [[hybridRrf]]/[[hybridRrfWith]]: re-derives the
    * seed queries, the BM25 micro-unit ranking (bm25BatchSql's core
    * with the query rows coming FROM the corpus instead of a VALUES
    * list), the dense ranking, and the same integer RRF fusion. The
    * dense CTE has two renderings matching the two faces: the
    * brute-force cosine (p06's spelling) when `centers` is None, or —
    * for the declared IVF-routed face — the trained-centroid probe
    * replay (ivfTopKSql's cellrank core, the p13 pattern). */
  def hybridRrfSql(nSeeds: Int, k: Int = 10, kRrf: Int = 60,
                   table: String = "documents",
                   centers: Option[Seq[Array[Double]]] = None,
                   nprobe: Int = 4): String = {
    val core = bm25CoreSql
    def rrf(rn: String) =
      s"CAST(${OracleSql.roundD(s"1000000.0 / ($kRrf + $rn)", 0)} AS BIGINT)"
    val denseCte = centers match {
      case Some(cs) =>
        val values = SimilarityOps.centersValuesSql(cs)
        s"""centers(cell, cv, hn2) AS (VALUES $values),
           |nv AS (
           |  ${SimilarityOps.NormalizedCorpusSql}
           |), cellrank AS (
           |  SELECT nv.vec_id, nv.v, c.cell,
           |    row_number() OVER (PARTITION BY nv.vec_id
           |      ORDER BY (list_inner_product(nv.v, c.cv) - c.hn2) DESC, c.cell) AS cr
           |  FROM nv, centers c
           |), ivf_assigned AS (
           |  SELECT vec_id, v, cell FROM cellrank WHERE cr = 1
           |), ivf_probes AS (
           |  SELECT vec_id AS qid, v AS qv, cell FROM cellrank
           |  WHERE vec_id < $nSeeds AND cr <= $nprobe
           |), dense AS (
           |  SELECT qid, id, rd FROM (
           |    SELECT p.qid, a.vec_id AS id,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY list_inner_product(p.qv, a.v) DESC, a.vec_id) AS rd
           |    FROM ivf_probes p JOIN ivf_assigned a USING (cell)
           |    WHERE a.vec_id != p.qid)
           |  WHERE rd <= $k)""".stripMargin
      case None =>
        s"""dense AS (
           |  SELECT qid, id, rd FROM (
           |    SELECT a.vec_id AS qid, b.vec_id AS id,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |                                        CAST(b.embedding AS DOUBLE[])) DESC,
           |                 b.vec_id) AS rd
           |    FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
           |    WHERE a.vec_id < $nSeeds
           |      AND ${SimilarityOps.usableSql("CAST(a.embedding AS DOUBLE[])")}
           |      AND ${SimilarityOps.usableSql("CAST(b.embedding AS DOUBLE[])")})
           |  WHERE rd <= $k)""".stripMargin
    }
    s"""WITH toks AS (
       |  ${toksCteSql(table)}),
       |seedq AS (
       |  SELECT doc_id AS qid, unnest(list_distinct(w)) AS t
       |  FROM toks WHERE doc_id < $nSeeds),
       |post AS (
       |  SELECT doc_id, dl, t, count(*) AS tf FROM (
       |    SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM toks)
       |  WHERE t IN (SELECT t FROM seedq)
       |  GROUP BY doc_id, dl, t),
       |totals AS ($TotalsCteSql),
       |dfs AS ($DfsCteSql),
       |per_term AS (
       |  SELECT seedq.qid, p.doc_id,
       |    CAST(${OracleSql.roundD(s"($core) * 1000000.0", 0)} AS BIGINT) AS micro
       |  FROM post p
       |  JOIN seedq ON p.t = seedq.t
       |  JOIN dfs ON p.t = dfs.t
       |  CROSS JOIN totals),
       |sparse AS (
       |  SELECT qid, doc_id AS id, rs FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY sum_micro DESC, doc_id) AS rs
       |    FROM (SELECT qid, doc_id, CAST(sum(micro) AS BIGINT) AS sum_micro
       |          FROM per_term GROUP BY qid, doc_id))
       |  WHERE rs <= $k),
       |$denseCte,
       |fused AS (
       |  SELECT COALESCE(s.qid, d.qid) AS qid, COALESCE(s.id, d.id) AS id,
       |    COALESCE(${rrf("s.rs")}, 0) + COALESCE(${rrf("d.rd")}, 0) AS fused_micro,
       |    s.rs AS rs, d.rd AS rd
       |  FROM sparse s FULL OUTER JOIN dense d
       |    ON s.qid = d.qid AND s.id = d.id)
       |SELECT qid, id, fused_micro, rs, rd, rank FROM (
       |  SELECT qid, id, fused_micro, rs, rd,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY fused_micro DESC, id) AS rank
       |  FROM fused WHERE id != qid)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }
}
