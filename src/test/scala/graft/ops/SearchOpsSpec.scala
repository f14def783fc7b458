package graft.ops

import graft.SparkSpec

/** Okapi BM25 scored keyword search (p86). */
class SearchOpsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def docs() = {
    import spark.implicits._
    Seq(
      (0L, "spark spark spark fast"),            // tf=3, short
      (1L, "spark slow and steady here now ok"), // tf=1, longer
      (2L, "nothing relevant at all"),
      (3L, "vector spark")                       // both terms, shortest
    ).toDF("doc_id", "text")
  }

  test("ranks by tf and length; excludes non-matching docs; k caps rows") {
    val r = SearchOps.bm25(docs(), Seq("spark", "vector"), k = 10).collect()
    val byId = r.map(x => x.getLong(0) -> (x.getInt(1), x.getDouble(2))).toMap
    assert(!byId.contains(2L), "no query term -> not in results")
    assert(byId(3L)._1 == 2 && byId(0L)._1 == 1, "matches counts distinct terms")
    assert(byId(0L)._2 > byId(1L)._2,
      s"higher tf in a shorter doc must outscore: $byId")
    assert(r.map(_.getDouble(2)).toSeq == r.map(_.getDouble(2)).sortBy(-_).toSeq,
      "rows come back score-descending")
    assert(SearchOps.bm25(docs(), Seq("spark"), k = 2).count() == 2L)
  }

  test("uppercase query terms match (doc tokens are lowercased; so are terms, all faces)") {
    // a raw 'Spark' once silently matched nothing in bm25/bm25Batch
    // while match_bm25 lowercased — the three faces must agree
    val up = SearchOps.bm25(docs(), Seq("Spark", "VECTOR"), k = 10).collect()
    val lo = SearchOps.bm25(docs(), Seq("spark", "vector"), k = 10).collect()
    assert(up.map(_.toString).toSeq == lo.map(_.toString).toSeq)
    assert(up.nonEmpty)
    val bUp = SearchOps.bm25Batch(docs(), Seq(1 -> Seq("Spark")), k = 5).collect()
    val bLo = SearchOps.bm25Batch(docs(), Seq(1 -> Seq("spark")), k = 5).collect()
    assert(bUp.map(_.toString).toSeq == bLo.map(_.toString).toSeq && bUp.nonEmpty)
  }

  test("scale shape: top-k is TakeOrdered, stats broadcast, no doc-data shuffle join") {
    // explainString, not executedPlan-after-collect: collect() plans the
    // limit through the CollectLimit fast path; Verify/Bench execute via
    // write, where the Limit(Sort) pattern is what actually runs
    // k below the relation's maxRows — EliminateLimits would otherwise
    // drop the limit on this 4-row fixture and hide the TakeOrdered
    val plan = SearchOps.bm25(docs(), Seq("spark", "vector"), k = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // 1-row stats side
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("scoreCol (the artifact-bound scalar face) reproduces bm25's scores exactly") {
    val d = docs()
    val (dfT, tot) = SearchOps.corpusStats(d)
    val model = SearchOps.modelOf(dfT, tot)
    assert(model.n == 4L && model.df("spark") == 3L && model.df("vector") == 1L)
    val viaScalar = d.select(col("doc_id"),
        SearchOps.scoreCol(col("text"), "Spark  VECTOR", model).as("score"))
      .filter(col("score") > 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaTopK = SearchOps.bm25(d, Seq("spark", "vector"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaScalar == viaTopK, s"\nscalar: $viaScalar\ntopk:   $viaTopK")
  }

  test("bm25Batch: per-qid top-k, postings filtered before explode, no corpus re-join") {
    val qs = Seq(1 -> Seq("spark", "vector"), 2 -> Seq("zzz_absent"))
    val df = SearchOps.bm25Batch(docs(), qs, k = 10)
    val rows = df.collect()
    val q1 = rows.filter(_.getInt(0) == 1)
    assert(q1.map(_.getLong(1)).toSet == Set(0L, 1L, 3L), q1.mkString(","))
    // doc 3 has both terms (matches=2) and is shortest: ranks first
    assert(q1.head.getLong(1) == 3L && q1.head.getLong(2) == 2L)
    assert(q1.map(_.getInt(4)).toSeq == (1 to q1.length), "rn dense per qid")
    assert(!rows.exists(_.getInt(0) == 2), "no posting rows for unmatched query")
    // plan shape: the query/df/totals sides broadcast; the corpus-sized
    // (doc, dl) frame is never re-joined (dl rides the postings rows)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("oracle SQL matches the impl's own numbers (engine-side replay)") {
    // replay the DuckDB oracle shape through Spark SQL on the same tiny
    // corpus: same tokenize, same rounded-contribution chain — guards
    // the renderer's formula against drift from the Column impl
    docs().createOrReplaceTempView("documents")
    val ora = SearchOps.bm25Sql(Seq("spark", "vector"), k = 10)
      .replace("string_split_regex(trim(lower(text)), '\\s+')",
        "split(trim(lower(text)), '\\\\s+')")
      .replace("len(", "size(")
      .replace("list_filter", "filter")
      .replace("AS VARCHAR", "AS STRING")
    val a = SearchOps.bm25(docs(), Seq("spark", "vector"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val b = spark.sql(ora).collect()
      .map(r => (r.getLong(0), math.toIntExact(r.getAs[Number](1).longValue()),
        r.getDouble(2)))
    assert(a.toSeq == b.toSeq, s"\nimpl:   ${a.toSeq}\noracle: ${b.toSeq}")
  }

  test("hybridRrf: RRF mechanics — fusion, absence, self-exclusion (r14)") {
    import spark.implicits._
    // doc 0 is the seed; doc 1 matches BOTH lists, doc 2 only sparse,
    // vec 3 only dense (its text shares no token with the seed)
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta something"),
      (2L, "alpha unrelated words"),
      (3L, "totally different text")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),   // orthogonal: ranks last densely
      (3L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding")
    val r = SearchOps.hybridRrf(docs, emb, nSeeds = 1, k = 3)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(2), Option(x.get(3)), Option(x.get(4)))).toMap
    // the seed never appears, even though sparse ranks it #1
    assert(!r.contains(0L), r.toString)
    // doc 1: sparse rank 2 (behind the seed itself) + dense rank 2
    // (behind vec 3) → round(1e6/62) + round(1e6/62)
    assert(r(1L)._1 == 2 * math.round(1e6 / 62) &&
      r(1L)._2 == Some(2) && r(1L)._3 == Some(2), r.toString)
    // doc 2: sparse-only (rank 3) + dense rank 3... it IS in the dense
    // top-3 of a 3-neighbor corpus — both present
    assert(r(2L)._2 == Some(3) && r(2L)._3 == Some(3), r.toString)
    // vec 3: dense rank 1, absent from sparse (no shared token) → the
    // missing list contributes exactly 0
    assert(r(3L)._1 == math.round(1e6 / 61) &&
      r(3L)._2 == None && r(3L)._3 == Some(1), r.toString)
    // fused ordering: doc 1 (two mid ranks) beats vec 3 (one top rank)
    assert(r(1L)._1 > r(3L)._1, r.toString)
  }

  test("hybridRrfWith(IVF dense) at full probe == the brute-force spelling (r15)") {
    import spark.implicits._
    // deterministic corpus: 60 docs whose texts AND embeddings both
    // carry the doc's bucket, so sparse and dense rankings interact
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val words = (0 until 6).map(j => s"w${(i + j * 7) % 13}").mkString(" ")
      val v = Array.tabulate(8)(d => (math.sin(i * (d + 1) * 0.7) +
        rnd.nextDouble() * 0.1).toFloat)
      (i.toLong, words, v)
    }
    val docs = rows.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val emb = rows.map(t => (t._1, t._3)).toDF("vec_id", "embedding")
    val (km, assigned) = SimilarityOps.ivfIndex(emb, nlist = 6)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "fused_micro", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    // full probe scans every cell → the dense ranking (normalized-dot
    // spelling) is exact, so the FUSED output must equal hybridRrf's
    val full = SearchOps.hybridRrfWith(docs,
      SimilarityOps.ivfTopKWith(km, assigned,
        emb.filter($"vec_id" < 4), 10, nprobe = 6),
      nSeeds = 4, k = 10)
    val brute = SearchOps.hybridRrf(docs, emb, nSeeds = 4, k = 10)
    assert(key(full) == key(brute))
    // cell-pruned probe: same fusion mechanics, dense list is the
    // approximate one — still k rows per seed, seeds still excluded
    val pruned = SearchOps.hybridRrfWith(docs,
      SimilarityOps.ivfTopKWith(km, assigned,
        emb.filter($"vec_id" < 4), 10, nprobe = 2),
      nSeeds = 4, k = 10)
      .select("qid", "id").as[(Long, Long)].collect()
    assert(pruned.length == 4 * 10 && !pruned.exists(p => p._1 == p._2))
  }
}
