package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  private def docs() = Seq(
    (0L, base),
    (1L, base),                                    // exact dup of 0
    (2L, base.replace("gamma", "GAMMA2")),         // near dup of 0
    (3L, "totally different words here nothing shared with others at all ok"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"),
  ).toDF("doc_id", "text")

  test("exactGroups collapses identical texts to the min id") {
    val g = DedupOps.exactGroups(docs()).collect()
    assert(g.length == 4)
    val dup = g.find(_.getAs[Long]("dups") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("shingles produces n-1 fewer distinct shingles than tokens") {
    val sh = DedupOps.shingles(Seq((1L, "a b c d")).toDF("doc_id", "text")).collect()
    assert(sh.map(_.getString(1)).toSet == Set("a b c", "b c d"))
  }

  test("shingles yields nothing for documents shorter than n tokens") {
    // sequence(1, size-(n-1)) on a short doc would be the DESCENDING
    // array [1, 0] and slice(w, 0, n) throws under ANSI mode (advice r1)
    val sh = DedupOps.shingles(
      Seq((1L, "one two"), (2L, "a"), (3L, "x y z")).toDF("doc_id", "text"))
      .collect()
    assert(sh.map(r => (r.getLong(0), r.getString(1))).toSet == Set((3L, "x y z")))
  }

  test("stop-shingle cap prunes a hyper-frequent shingle, keeps real dups") {
    // 200 docs all share one hot trigram (df=200 > max(ceil(200/256), 64));
    // docs 0/1 are near-dups through their non-hot shingles.
    val hot = "the quick brown"
    val tail = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = ((0 until 2).map(i => (i.toLong, s"$hot $tail")) ++
      (2 until 200).map(i => (i.toLong, s"$hot unique$i word$i token$i item$i thing$i")))
      .toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(corpus, 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // the dup pair survives; no pair exists solely through the hot shingle
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 >= 2L && p._2 > p._1))
    // and the hot shingle is really out of the pruned universe: a doc
    // whose only shingle is hot contributes no pairs at all
    val sh = DedupOps.shingles(corpus)
    assert(sh.filter($"s" === hot).count() == 200L) // present pre-prune
  }

  test("ngramJaccardPairs finds exact+near dups above tau, not unrelated") {
    val pairs = DedupOps.ngramJaccardPairs(docs(), 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minHashPairs recovers the same pairs as exact jaccard at tau=0.5") {
    val exact = DedupOps.ngramJaccardPairs(docs(), 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val mh = DedupOps.minHashPairs(docs(), 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(mh == exact)
  }

  test("minHashPairs with knownMaxDup runs NO probe job at plan construction (VERDICT r9 #6)") {
    val sc = spark.sparkContext
    // plan CONSTRUCTION under group A must schedule zero Spark jobs
    // when the caller supplies the routing stat; the default path runs
    // its md5 hash-agg probe eagerly (group B, >= 1 job). Group B's
    // jobs appearing in the status tracker orders-after group A's
    // (the listener bus is FIFO), so B non-empty + A empty is a sound
    // zero-assert without private listener-bus access.
    sc.setJobGroup("dup-probe-known", "known stats")
    DedupOps.minHashPairs(docs(), 0.5, knownMaxDup = Some(2L)): Unit
    sc.clearJobGroup()
    sc.setJobGroup("dup-probe-scan", "probe scan")
    DedupOps.minHashPairs(docs(), 0.5): Unit
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("dup-probe-scan").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("dup-probe-scan").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("dup-probe-known").isEmpty)
    // and the supplied stat routes identically: maxDup=2 (the exact
    // pair in docs()) stays on the direct plan at this cluster size,
    // same output as the probing call
    val known = DedupOps.minHashPairs(docs(), 0.5, knownMaxDup = Some(2L))
      .select("da", "db").as[(Long, Long)].collect().toSet
    val probed = DedupOps.minHashPairs(docs(), 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(known == probed)
  }

  test("minHashPairs: 1000-copy cluster keeps banded candidates O(distinct texts)") {
    // VERDICT r8 #2: a viral-boilerplate cluster of m exact copies must
    // NOT push m²/2 candidates through the band join — exact duplicates
    // collapse to one representative before signatures, so the banded
    // machinery sees 3 distinct texts here, not 1002 docs.
    val near = base.replace("gamma", "GAMMA2")
    val corpus = ((0 until 1000).map(i => (i.toLong, base)) ++
      Seq((1000L, near),
          (1001L, "totally different words here nothing shared at all ok right")))
      .toDF("doc_id", "text")
    val stats = DedupOps.bandCostStats(corpus).collect()(0)
    assert(stats.getAs[Long]("n_docs") == 1002L)
    assert(stats.getAs[Long]("n_reps") == 3L)
    // ≤ Bands · C(n_reps, 2) candidate pairs — O(distinct texts), not O(m²)
    assert(stats.getAs[Long]("candidate_pairs") <= 16L * 3)
    assert(stats.getAs[Long]("max_bucket") <= 3L)
    // and the expanded answer is still exact: all C(1000,2) intra pairs
    // at j=1.0, plus the near-dup doc pairing with every copy
    val pairs = DedupOps.minHashPairs(corpus, 0.5)
    assert(pairs.count() == 1000L * 999 / 2 + 1000)
    val spot = pairs.filter($"da" === 0L && $"db" === 1L).select("j")
      .as[Double].collect()
    assert(spot.sameElements(Array(1.0)))
    val crossSpot = pairs.filter($"db" === 1000L).count()
    assert(crossSpot == 1000L)
  }

  test("minHashPairs collapse route is output-identical to the direct plan") {
    // force the collapsed path on a small mixed corpus (threshold 0 ⇒
    // any dup collapses) and pin it against the direct path's answer
    val near = base.replace("gamma", "GAMMA2")
    val corpus = (Seq((0L, base), (1L, base), (2L, base), (3L, near),
      (4L, "totally different words here nothing shared at all ok right")))
      .toDF("doc_id", "text")
    def pairs(minCluster: Long) =
      DedupOps.minHashPairs(corpus, 0.5, collapseMinCluster = minCluster)
        .select("da", "db", "j").as[(Long, Long, Double)].collect().toSet
    assert(pairs(0L) == pairs(Long.MaxValue))
    assert(pairs(0L).map(p => (p._1, p._2)).contains((0L, 2L)))
  }

  test("minHashCandidates maxBucket drops hot band buckets, keeps small ones") {
    // two signature groups: 10 docs sharing one signature (a 10-deep
    // bucket in every band) and 2 docs sharing another. Cap 5: the hot
    // bucket is dropped everywhere, the 2-doc bucket survives.
    val sigA = array((0 until 64).map(i => lit(i.toLong * 7 + 1)): _*)
    val sigB = array((0 until 64).map(i => lit(i.toLong * 13 + 5)): _*)
    val sigs = spark.range(12).select(col("id").as("doc_id"),
      when(col("id") < 10, sigA).otherwise(sigB).as("sig"))
    val capped = DedupOps.minHashCandidates(sigs, maxBucket = Some(5L))
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 11L)))
    // uncapped finds all C(10,2) + 1 pairs
    assert(DedupOps.minHashCandidates(sigs).count() == 45L + 1)
  }

  test("bandCostStats on an empty corpus returns zeros, not nulls downstream") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = DedupOps.bandCostStats(empty).collect()(0)
    assert(r.getAs[Long]("n_docs") == 0L)
    assert(r.getAs[Long]("n_reps") == 0L)
    // aggregate columns are NULL on an empty frame; here we pin the shape
    assert(r.schema.fieldNames.toSeq ==
      Seq("n_docs", "n_reps", "multi_buckets", "max_bucket",
        "candidate_pairs", "sum_c2"))
    // and the exact-jaccard path must not throw on empty either
    assert(DedupOps.ngramJaccardPairs(empty, 0.5).count() == 0L)
  }

  test("simHash: identical docs have distance 0; near dups small distance") {
    val pairs = DedupOps.simHashPairs(docs(), maxDist = 3)
      .select("da", "db", "dist").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 0)
  }

  test("embeddingNearDupPairs finds planted duplicate vector") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)), // near dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = DedupOps.embeddingNearDupPairs(emb, 0.95)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingNearDupPairs is exact: blocked result == all-pairs result") {
    def base(i: Long): Array[Float] = {
      val r = new scala.util.Random(1000 + i)
      Array.fill(8)(r.nextFloat() * 2 - 1)
    }
    // planted near-dups: vec 100+k is vec k plus small noise
    val emb = (0L until 120L).map { i =>
      val v = if (i >= 100) base(i - 100).map(_ + 0.01f) else base(i)
      (i, v)
    }.toDF("vec_id", "embedding")
    def pairsWith(blocks: Int) =
      DedupOps.embeddingNearDupPairs(emb, 0.6, numBlocks = blocks)
        .select("va", "vb").as[(Long, Long)].collect().toSet
    val blocked = pairsWith(5)
    assert(blocked == pairsWith(1)) // 1 block == plain all-pairs
    assert((0L until 20L).forall(k => blocked.contains((k, k + 100L))))
  }

  test("clusterCards: per multi-member cluster size, keeper and salient terms") {
    // "the" is SHARED by both clusters and repeated hard (ctf 6 each)
    // so raw frequency would rank it first — only the cluster-df
    // discrimination (cdf=2 halves its score) demotes it below the
    // cluster-distinctive term (ctf 6 × N/cdf = 6×2/1 = 12 vs 6)
    val docs = Seq(
      (0L, "the the the template words alpha alpha alpha"),
      (1L, "the the the template words alpha alpha alpha"),  // cluster {0,1}
      (2L, "the the the different stuff beta beta beta"),
      (3L, "the the the different stuff beta beta beta"),    // cluster {2,3}
      (4L, "a singleton document gamma gamma gamma"),        // no card
    ).toDF("doc_id", "text")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val cards = DedupOps.clusterCards(docs, labels)
      .as[(Long, Long, Long, String, Double, Int)].collect()
    assert(cards.map(_._1).distinct.sorted.toSeq == Seq(0L, 2L)) // singleton has no card
    assert(cards.forall(_._2 == 2L))                             // both clusters size 2
    assert(cards.filter(_._1 == 0L).head._3 == 0L)               // keeper = min id
    // rank-1 is the cluster-DISTINCTIVE repeat: same raw frequency as
    // the shared stopword, but cdf=1 vs 2 doubles its salience
    val top = cards.filter(_._6 == 1).map(c => c._1 -> c._4).toMap
    assert(top(0L) == "alpha" && top(2L) == "beta", top)
    // and the shared hard-repeated stopword ranks BELOW it
    val second = cards.filter(_._6 == 2).map(c => c._1 -> c._4).toMap
    assert(second(0L) == "the" && second(2L) == "the", second)
  }

  test("decontaminate flags corpus docs sharing an n-gram with the holdout") {
    val holdout = Seq((0L, base)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, base),                                   // verbatim copy: contaminated
      (11L, "totally unrelated words here " * 5),    // clean
      (12L, s"prefix $base suffix"))                 // embedded copy: contaminated
      .toDF("doc_id", "text")
    val r = DedupOps.decontaminate(corpus, holdout, n = 8)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // base has 20 tokens -> 13 8-grams, all shared by doc 10 and doc 12
    assert(r == Seq((10L, 13L), (12L, 13L)), r)
  }

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupOps.connectedComponents(pairs.toDF("da", "db"))
      .as[(Long, Long)].collect().toMap

  test("connectedComponents frees superseded checkpoints; saveClusterLabels frees the last") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // a 40-node path forces multiple star-contraction rounds, each with
    // its own eager checkpoint — all but the final label map must be
    // unpersisted by the time the call returns (df.unpersist alone is a
    // no-op for checkpoint blocks; see DedupOps.freeCheckpoint)
    val labels = DedupOps.connectedComponents(
      (0L until 39L).map(i => (i, i + 1)).toDF("da", "db"))
    assert(labels.count() == 40)
    assert(sc.getPersistentRDDs.size <= before + 1,
      s"superseded CC checkpoints leaked: $before -> ${sc.getPersistentRDDs.size}")
    // persisting the artifact frees the final block set too: block-
    // manager storage returns to its pre-clustering baseline
    val out = java.nio.file.Files.createTempDirectory("graft-ccfree-")
    DedupOps.saveClusterLabels(labels, s"$out/labels")
    assert(sc.getPersistentRDDs.size <= before,
      s"final checkpoint survived save: $before -> ${sc.getPersistentRDDs.size}")
    assert(DedupOps.loadClusterLabels(spark, s"$out/labels").count() == 40)
  }

  test("connectedComponents labels a long chain with its min (diameter >> rounds)") {
    // a 40-node path: naive min-propagation needs 40 rounds; star
    // contraction must land the fixpoint within the O(log n) budget
    val chain = (0L until 39L).map(i => (i, i + 1))
    val labels = cc(chain)
    assert(labels == (0L until 40L).map(_ -> 0L).toMap)
  }

  test("connectedComponents separates disjoint clusters and handles cycles") {
    val labels = cc(Seq((5L, 3L), (3L, 9L), (9L, 5L), // cycle {3,5,9}
      (20L, 21L),                                     // pair
      (30L, 31L), (31L, 32L), (32L, 30L), (32L, 33L)))
    assert(labels == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
  }

  test("connectedComponents on no pairs returns an empty labeling") {
    assert(cc(Seq.empty) == Map.empty)
  }

  test("connectedComponents matches a reference union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    // reference: driver-side union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    assert(cc(edges) == expected)
  }

  test("decontaminateBloom returns exactly decontaminate's result") {
    // bloom prefilter + exact verify == exact semi-join, at any fpp
    val corpus = Seq(
      (10L, base),                                       // shares 8-grams with holdout
      (11L, "totally different words here nothing shared with others at all ok"),
      (12L, base.replaceAll("alpha beta gamma delta epsilon zeta eta theta", "x y")),
    ).toDF("doc_id", "text")
    val holdout = Seq((0L, base)).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val exact = m(DedupOps.decontaminate(corpus, holdout))
    assert(exact.contains(10L) && !exact.contains(11L), exact)
    assert(m(DedupOps.decontaminateBloom(corpus, holdout)) == exact)
    // even at an absurd fpp the exact verify kills false positives
    assert(m(DedupOps.decontaminateBloom(corpus, holdout, fpp = 0.5)) == exact)
  }

  test("bloomScreen: no false negatives vs exact; filter size is holdout-independent") {
    val corpus = Seq(
      (10L, base),                                       // shares 8-grams with holdout
      (11L, "totally different words here nothing shared with others at all ok"),
      (12L, base.replaceAll("alpha beta gamma delta epsilon zeta eta theta", "x y")),
    ).toDF("doc_id", "text")
    val holdout = Seq((0L, base)).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val exact = m(DedupOps.decontaminate(corpus, holdout))
    val screen = m(DedupOps.bloomScreen(corpus, holdout))
    // the Bloom property: every exact hit is screened, with at LEAST
    // the exact hit count (false positives only ever add)
    for ((doc, hits) <- exact)
      assert(screen.get(doc).exists(_ >= hits), s"doc $doc: $screen vs $exact")
    // the sketch is 4 KB regardless of holdout size — the scale contract
    assert(DedupOps.bloomBits(holdout).length == (DedupOps.BloomBits / 64).toInt)
    val bigHoldout = (0L until 40L)
      .map(i => (i, (1 to 30).map(j => s"h${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(DedupOps.bloomBits(bigHoldout).length == (DedupOps.BloomBits / 64).toInt)
  }

  test("CDC chunking is shift-invariant: an insertion perturbs only its own chunk") {
    // the property fixed-size chunking lacks, and the whole point of
    // content-defined boundaries: chunk hashes AFTER the edit's chunk
    // are identical between the original and the shifted doc
    val words = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, words),
      (1L, "inserted " + words), // one token prepended: everything shifts
    ).toDF("doc_id", "text")
    val ch = DedupOps.cdcChunks(docs)
      .select($"doc_id", $"h").as[(Long, String)].collect()
    val h0 = ch.filter(_._1 == 0L).map(_._2).toSet
    val h1 = ch.filter(_._1 == 1L).map(_._2).toSet
    // all but the first chunk (which absorbed the insertion) survive
    val shared = (h0 & h1).size
    assert(shared >= h0.size - 1, s"only $shared of ${h0.size} chunks survived the shift")
    assert(h0.size > 3, s"chunking degenerated: ${h0.size} chunks") // boundaries exist

    // coverage report: near-total dup for the pair, integer per-mille
    val cov = DedupOps.cdcDupCoverage(docs)
      .select($"doc_id", $"n_chunks", $"n_dup", $"dup_milli")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(cov(0L)._4 >= 900, cov(0L))
    assert(cov(1L)._3 == cov(1L)._2 - 1 || cov(1L)._3 == cov(1L)._2, cov(1L))
  }

  test("cdcDupCoverage plan: spread rides one window — two exchanges, no join") {
    // the r6 shape aggregated per hash and re-joined the chunk rows on
    // the same key (a third exchange); the report only needs "≥2
    // distinct docs share this hash", which min≠max answers inside the
    // hash shuffle itself (the p48 'no global sort' spec pattern)
    val docs = Seq((0L, "a b c"), (1L, "a b c")).toDF("doc_id", "text")
    val plan = DedupOps.cdcDupCoverage(docs).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("removeContaminatedSpans cuts exactly the eval-overlapping windows") {
    // doc 10 embeds an 8-token holdout span mid-document; doc 11 is
    // clean. The edit must remove the span's full window cover and
    // leave the surrounding text intact (fingerprint-checked).
    val evalSpan = (1 to 8).map(i => s"ev$i").mkString(" ")
    val pre = (1 to 5).map(i => s"a$i").mkString(" ")
    val post = (1 to 5).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (10L, s"$pre $evalSpan $post"),
      (11L, "totally unrelated words that never touch the holdout at all"),
    ).toDF("doc_id", "text")
    val holdout = Seq((0L, evalSpan)).toDF("doc_id", "text")
    val r = DedupOps.removeContaminatedSpans(corpus, holdout)
      .as[(Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    // exactly the one 8-token window matched -> its 8 positions removed
    assert(r(10L)._2 == 18L && r(10L)._3 == 8L, r(10L))
    assert(r(11L)._3 == 0L, r(11L))
    // the rebuilt text is pre + post with the span gone
    val cleanFp = spark.sql(
      s"SELECT md5('$pre $post') AS fp").as[String].head()
    assert(r(10L)._4 == cleanFp, "edited text mismatch")
  }

  test("substrDupStats counts shared and internal duplicated windows") {
    // 15-token span shared verbatim between docs 0 and 1; doc 2 disjoint;
    // doc 3 too short to emit any window
    val span = (1 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, span + " tail0 more0"),
      (1L, "head1 " + span),
      (2L, (1 to 20).map(i => s"z$i").mkString(" ")),
      (3L, "short doc"),
    ).toDF("doc_id", "text")
    val out = DedupOps.substrDupStats(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"), r.getAs[Long]("n_cross"))))
      .toMap
    // doc 0: 17 tokens → 3 windows, exactly one (the span) shared
    assert(out(0L) == ((3L, 1L, 1L)))
    assert(out(1L) == ((2L, 1L, 1L)))
    assert(out(2L) == ((6L, 0L, 0L)))
    assert(!out.contains(3L))
  }

  test("substrDupStats flags within-doc repetition as dup but not cross") {
    // the same 15-token window occurs twice INSIDE one doc: both
    // instances are duplicated (global count 2) but nd = 1 ⇒ n_cross = 0
    val span = (1 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, span + " " + span)).toDF("doc_id", "text")
    val r = DedupOps.substrDupStats(docs).collect().head
    assert(r.getAs[Long]("n_windows") == 16L)
    assert(r.getAs[Long]("n_dup") == 2L)
    assert(r.getAs[Long]("n_cross") == 0L)
  }

  test("semanticDedup resolves same-direction groups within k-means cells") {
    // two duplicate groups (same direction = cosine 1 after normalize,
    // so cell assignment MUST agree) + orthogonal singletons + one zero
    // vector (unsearchable -> excluded by the index)
    val emb = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(2f, 0f, 0f, 0f),
      2L -> Array(0.5f, 0f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f), 4L -> Array(0f, 3f, 0f, 0f),
      5L -> Array(0f, 0f, 1f, 0f), 6L -> Array(0f, 0f, 0f, 1f),
      9L -> Array(0f, 0f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val (_, assigned) = SimilarityOps.ivfIndex(emb, nlist = 2)
    val out = DedupOps.semanticDedup(assigned, tau = 0.95).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Boolean]("kept")))).toMap
    assert(!out.contains(9L), "zero vector excluded from the index")
    assert(out(0L) == ((0L, true)) && out(1L) == ((0L, false)) &&
      out(2L) == ((0L, false)), out)
    assert(out(3L) == ((3L, true)) && out(4L) == ((3L, false)), out)
    assert(out(5L) == ((5L, true)) && out(6L) == ((6L, true)), out)
  }

  test("semanticDedup: kept is exactly keep_id == vec_id, one keeper per group") {
    val emb = Seq(
      0L -> Array(1f, 1f, 0f, 0f), 1L -> Array(2f, 2f, 0f, 0f),
      2L -> Array(1f, 0f, 1f, 0f), 3L -> Array(0f, 1f, 1f, 1f)
    ).toDF("vec_id", "embedding")
    val (_, assigned) = SimilarityOps.ivfIndex(emb, nlist = 2)
    val rows = DedupOps.semanticDedup(assigned, tau = 0.99).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("kept") ==
        (r.getAs[Long]("keep_id") == r.getAs[Long]("vec_id")), r.toString)
    }
    // every group's keeper is a member of the group
    val byGroup = rows.groupBy(_.getAs[Long]("keep_id"))
    byGroup.foreach { case (rep, members) =>
      assert(members.exists(_.getAs[Long]("vec_id") == rep), s"rep $rep not a member")
    }
  }

  test("lineDedup: global first occurrence wins, later copies drop, empty doc -> md5('')") {
    val docs = Seq(
      1L -> "alpha one.\nbeta two.",
      2L -> "beta two.\ngamma three.", // 'beta two.' already seen in doc 1
      3L -> "alpha one."               // fully duplicated: loses its only line
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("dedup_fp")))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 2)
    assert(out(2L) == ((2L, 1L,
      md5Hex("gamma three."))), out(2L))
    assert(out(3L) == ((1L, 0L, md5Hex(""))), out(3L))
  }

  test("lineDedup: surviving lines re-join in original intra-doc order") {
    val docs = Seq(
      1L -> "zz last.\naa first.", // survivors must keep doc order, not sorted-text order
      2L -> "zz last.\nmm middle.\naa first."
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_fp")).toMap
    assert(out(1L) == md5Hex("zz last.\naa first."), "doc order, not lexicographic")
    assert(out(2L) == md5Hex("mm middle."))
  }

  test("lineDedup is partitioning-invariant") {
    val docs = (0L until 200L).map(i =>
      i -> s"shared boilerplate line.\nunique line number $i.").toDF("doc_id", "text")
    def fps(parts: Int) = DedupOps.lineDedup(docs.repartition(parts))
      .select("doc_id", "n_kept", "dedup_fp")
      .as[(Long, Long, String)].collect().toSet
    val once = fps(1)
    assert(fps(17) == once)
    // exactly ONE doc keeps the shared line
    assert(once.count(_._2 == 2L) == 1 && once.count(_._2 == 1L) == 199)
  }

  test("lineDedup invariant sweep: every distinct line survives exactly once") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val nDocs = 50 + rnd.nextInt(100)
      // small line vocabulary so cross-doc dups are dense
      val docs = (0L until nDocs.toLong).map { i =>
        val lines = (0 to rnd.nextInt(5)).map(_ => s"line ${rnd.nextInt(40)}.")
        i -> lines.mkString("\n")
      }.toDF("doc_id", "text")
      val out = DedupOps.lineDedup(docs).cache()
      try {
        val kept = out.agg(sum("n_kept")).as[Long].head()
        val distinctLines = docs
          .select(explode(split(col("text"), "\n")).as("l"))
          .distinct().count()
        assert(kept == distinctLines,
          s"trial $trial: kept $kept != distinct $distinctLines")
        val total = out.agg(sum("n_lines")).as[Long].head()
        val allLines = docs.select(explode(split(col("text"), "\n"))).count()
        assert(total == allLines)
      } finally out.unpersist()
    }
  }

  test("contaminationReport: every corpus doc reported, fractions exact") {
    import spark.implicits._
    // shingles are 8-grams (DecontamN): docs need >= 8 words to report
    val ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hold = Seq((0L, ten)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, ten),                                              // fully contaminated
      (11L, "one two three four five six seven eight nine ten"), // clean
      (12L, "alpha beta gamma delta epsilon zeta eta theta t1 t2 t3 t4"), // partial
    ).toDF("doc_id", "text")
    val r = DedupOps.contaminationReport(corpus, hold).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))).toMap
    assert(r.keySet == Set(10L, 11L, 12L), "clean docs must still appear")
    // a doc SHORTER than the shingle width must still report (0 windows,
    // clean) — the denominator contract auditors divide by
    val short = DedupOps.contaminationReport(
      corpus.union(Seq((13L, "only three words")).toDF("doc_id", "text")), hold)
      .filter($"doc_id" === 13L).collect()
    assert(short.length == 1)
    assert(short.head.getLong(1) == 0L && short.head.getDouble(3) == 0.0 &&
      !short.head.getBoolean(4), short.head.toString)
    assert(r(10L)._3 == 1.0 && r(10L)._4)
    assert(r(11L) == ((3L, 0L, 0.0, false)))
    assert(r(12L)._2 > 0 && r(12L)._3 < 1.0)
    // fraction is hits/shingles exactly
    r.values.foreach { case (n, h, f, _) =>
      assert(f == math.rint(h.toDouble / n * 1e6) / 1e6) }
  }

  test("incremental cluster refresh equals full batch recompute") {
    import spark.implicits._
    // clusters that STRADDLE the old/new boundary: docs 0-5 old, 6-9 new;
    // texts built so (0,1,6) share a cluster via 6's overlap with 1,
    // (2,7,8) likewise, 3/4/5/9 singletons
    val t = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta iota",
      2L -> "one two three four five six seven eight",
      3L -> "completely different text about weather patterns today",
      4L -> "numbers nine ten eleven twelve thirteen fourteen fifteen",
      5L -> "lone document with its very own unique content",
      6L -> "alpha beta gamma delta epsilon zeta iota kappa", // near 1
      7L -> "one two three four five six seven nine",         // near 2
      8L -> "one two three four five six eight nine",         // near 2,7
      9L -> "brand new unrelated material in the final dump",
    )
    val docs = t.toSeq.map { case (id, tx) => (id, tx) }.toDF("doc_id", "text")
    val oldDocs = docs.filter($"doc_id" < 6)
    val newDocs = docs.filter($"doc_id" >= 6)
    val tau = 0.5
    val full = DedupOps.clusterLabels(docs, tau, capFrac = None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oldLabels = DedupOps.clusterLabels(oldDocs, tau, capFrac = None)
    val inc = DedupOps.incrementalClusterLabels(
      oldLabels, DedupOps.shingles(oldDocs, 3), newDocs, tau)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental $inc vs batch $full")
    // sanity: the straddling merges actually happened
    assert(full(6L) == full(1L) && full(7L) == full(2L) && full(8L) == full(2L))
    assert(full(9L) == 9L)
  }

  test("uncapped pair join: sizes ride map-side — one join, no sizes rejoin (r16)") {
    import spark.implicits._
    val docs = (0L until 30L).map(i =>
      (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} t${i}a t${i}b t${i}c"))
      .toDF("doc_id", "text")
    val df = DedupOps.ngramJaccardPairs(docs, 0.5, capFrac = None)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1,
      s"uncapped path must keep exactly the shingle self-join, got ${joins.size}")
    // and the size-compat prefilter must not change the result set:
    // compare against a by-hand Jaccard over collected shingle sets
    val sets = DedupOps.shingles(docs, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys; if a < b
      c = (sets(a) & sets(b)).size
      j = c.toDouble / (sets(a).size + sets(b).size - c)
      if j >= 0.5
    } yield (a, b, j)).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
  }

  test("incremental refresh: the absolute-df cap kills the hot-shingle fan-out") {
    import spark.implicits._
    // every doc shares one boilerplate shingle ('copy right notice') —
    // uncapped, the new↔old join fans out |old| rows per batch doc on
    // that shingle alone; docs 0/1 and 100/101 are genuinely similar
    val boiler = " copy right notice"
    val oldDocs = (0L until 40L).map {
      case 0L => (0L, "alpha beta gamma delta epsilon zeta" + boiler)
      case i => (i, s"old o${i}a o${i}b o${i}c o${i}d o${i}e" + boiler)
    }.toDF("doc_id", "text")
    val newDocs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta" + boiler), // near doc 0
      (101L, "fresh f1 f2 f3 f4 f5" + boiler)).toDF("doc_id", "text")
    val oldLabels = DedupOps.clusterLabels(oldDocs, 0.5, capFrac = None)
    val capped = DedupOps.incrementalClusterLabels(
      oldLabels, DedupOps.shingles(oldDocs, 3), newDocs, 0.5,
      maxDf = Some(8L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the genuine near-dup still merges (its evidence shingles are rare)
    assert(capped(100L) == capped(0L), capped.toString)
    // boilerplate-only overlap does NOT merge anything
    assert(capped(101L) == 101L, capped.toString)
    assert(capped(5L) != capped(7L))
    // and old-epoch clusters are preserved via star edges regardless
    assert(oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .forall { case (d, c) => capped(d) == capped(c) })
  }

  test("removeDupSpans cuts non-first span instances, keeps the first") {
    import spark.implicits._
    val span = (1 to 15).map(i => s"s$i").mkString(" ") // exactly one window
    val docs = Seq(
      (0L, span + " tail0 tail1 tail2"),       // first occurrence -> kept
      (1L, "head0 head1 " + span),             // second -> span removed
      (2L, "clean doc with no duplication at all"),
      (3L, span),                              // third, removed entirely
    ).toDF("doc_id", "text")
    val r = DedupOps.removeDupSpans(docs).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    def fp(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    assert(r(0L) == ((18L, 0L, fp(span + " tail0 tail1 tail2"))))
    assert(r(1L) == ((17L, 15L, fp("head0 head1"))))
    assert(r(2L)._2 == 0L)
    assert(r(3L) == ((15L, 15L, fp(""))), "full removal -> empty text fp")
    // conservation: kept + removed = total
    r.values.foreach { case (n, rm, _) => assert(rm <= n) }
  }

  test("removeDupSpans overlapping dup windows remove the union of spans") {
    import spark.implicits._
    // doc 1 repeats a 16-token run from doc 0 -> two overlapping dup
    // windows in doc 1 covering 16 positions, counted once each
    val run = (1 to 16).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, run + " x y z"),
      (1L, "a b " + run),
    ).toDF("doc_id", "text")
    val r = DedupOps.removeDupSpans(docs).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(0L) == 0L)
    assert(r(1L) == 16L, s"union of overlapping spans: ${r(1L)}")
  }

  test("templateGroups collapses digit-fill-in instantiations, not real edits") {
    import spark.implicits._
    val docs = Seq(
      (0L, "buy item 4711 now for only 12 dollars"),
      (1L, "buy item 9215 now for only 99 dollars"),  // same template as 0
      (2L, "buy item 5550 now for only 31 dollars"),  // same template
      (3L, "buy gadget 4711 now for only 12 dollars"), // WORD differs -> distinct
      (4L, "completely different content here"),
    ).toDF("doc_id", "text")
    val r = DedupOps.templateGroups(docs).collect()
      .map(x => x.getLong(0) ->
        ((x.getString(1), x.getLong(2), x.getBoolean(3), x.getBoolean(4)))).toMap
    assert(r(0L)._1 == r(1L)._1 && r(1L)._1 == r(2L)._1, "one template group")
    assert(r(3L)._1 != r(0L)._1, "a word-level edit is a different template")
    assert(Seq(0L, 1L, 2L).forall(i => r(i)._2 == 3L && r(i)._3))
    assert(r(0L)._4 && !r(1L)._4 && !r(2L)._4, "lowest doc_id is the keeper")
    assert(r(4L) == ((r(4L)._1, 1L, false, true)))
    // below-threshold for Jaccard: the instances share < half their
    // distinct trigrams once fill-ins differ, which is the gap this op closes
    val j = DedupOps.ngramJaccardPairs(docs.filter($"doc_id" < 3), 0.9,
      capFrac = None).count()
    assert(j == 0L, "at tau=0.9 Jaccard misses these template instances")
  }

  test("contaminationReport broadcasts the holdout; corpus text unshuffled") {
    import spark.implicits._
    val hold = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    val corpus = (10L until 40L).map(i => (i, s"w$i x$i y$i z$i q$i"))
      .toDF("doc_id", "text")
    val plan = DedupOps.contaminationReport(corpus, hold)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("stop-shingle cap is bounded ABSOLUTELY (r7 sf1 scale guard)") {
    import spark.implicits._
    // 70 identical docs: both trigrams have df=70. With capFrac=1.0 the
    // frac part of the cap is ceil(1.0*70)=70 — the OLD formula
    // (greatest only) would admit the hot groups and emit 70*69/2 pairs;
    // the absolute ceiling (least(..., 64)) must prune them. This is the
    // property that keeps pair work O(MaxDf²) per shingle at any N.
    val docs = (0L until 70L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(DedupOps.StopShingleMaxDf == 64L)
    val stats = DedupOps.shingleCostStats(docs, capFrac = Some(1.0)).collect()(0)
    assert(stats.getLong(0) == 64L, s"cap must clamp to MaxDf: $stats")
    assert(stats.getLong(1) == 0L && stats.getLong(2) == 2L,
      s"both df=70 trigrams dropped: $stats")
    assert(stats.getLong(3) == 0L && stats.getLong(4) == 0L, s"no pair work: $stats")
    assert(DedupOps.ngramJaccardPairs(docs, 0.5, capFrac = Some(1.0)).count() == 0L)
  }

  test("nearDupPairs routes: exact face small, banded MinHash above the threshold") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 0
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    // small corpus: exact plan (window-capped self-join — has a Window,
    // no band posexplode)
    val exact = DedupOps.nearDupPairs(docs, 0.5)
    val exactPlan = exact.queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("window"), exactPlan)
    assert(!exactPlan.contains("posexplode"), exactPlan)
    // forced over-threshold: banded MinHash plan (band posexplode)
    val banded = DedupOps.nearDupPairs(docs, 0.5, exactMaxDocs = 2)
    val bandedPlan = banded.queryExecution.optimizedPlan.toString
    assert(bandedPlan.contains("posexplode"), bandedPlan)
    // both faces agree on this corpus (band recall 1 at this tau/config)
    val a = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = banded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == Set((0L, 1L)) && b == a, s"$a vs $b")
    // knownDocs skips the routing count but routes identically
    val known = DedupOps.nearDupPairs(docs, 0.5, exactMaxDocs = 2,
      knownDocs = Some(3L))
    assert(known.queryExecution.optimizedPlan.toString.contains("posexplode"))
  }

  test("shingleCostStats counts the pair join's exact candidate work") {
    import spark.implicits._
    // 3 docs sharing "a b c"+"b c d" (df=3 each), 1 doc apart (df=1 x2):
    // uncapped candidate_pairs = 2*(3*2/2) + 2*0 = 6, sum_df2 = 2*9+2*1=20
    val docs = Seq((0L, "a b c d"), (1L, "a b c d"), (2L, "a b c d"),
      (3L, "x y z w")).toDF("doc_id", "text")
    val st = DedupOps.shingleCostStats(docs, capFrac = None).collect()(0)
    assert(st.getLong(1) == 4L && st.getLong(2) == 0L, st.toString)
    assert(st.getLong(3) == 6L, s"candidate pairs: $st")
    assert(st.getLong(4) == 20L, s"sum df^2: $st")
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("winnowing: a copied run of w+n-1 tokens always shares a fingerprint (r14)") {
    import spark.implicits._
    // w = 4, n = 3 → the paper's guarantee threshold is 6 tokens
    val run = "copy me exactly six shared tokens"      // 6 tokens
    val docs = Seq(
      (0L, s"alpha beta $run gamma delta"),
      (1L, s"one two three $run four five six seven"),
      (2L, "totally disjoint vocabulary with nothing in common here"),
      (3L, "")).toDF("doc_id", "text")
    val fps = DedupOps.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty,
      s"guaranteed shared fingerprint missing: ${fps(0L)} vs ${fps(1L)}")
    assert(fps(3L).isEmpty, "empty text -> no fingerprints")
    val m = DedupOps.winnowMatches(docs, minMatch = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m.contains((0L, 1L)), m.toString)
    assert(!m.keySet.exists { case (a, b) => a == 2L || b == 2L },
      "disjoint doc must not match")
    // density: far fewer fingerprints than grams (~2/(w+1) of them)
    val longDoc = Seq((9L, (1 to 200).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val nf = DedupOps.winnowFingerprints(longDoc).collect()(0)
      .getSeq[Long](1).size
    assert(nf < 198 / 2, s"winnowing must thin the grams, got $nf of 198")
  }

  test("jaccardPageRank: hand-computed integer power steps on a star (r14)") {
    import spark.implicits._
    // S (doc 0) shares exactly 2 of its 6 shingles with each arm; the
    // arms share nothing: edges S–A and S–B only (τ = 0.2 → j = 0.25)
    val docs = Seq(
      (0L, "a1 a2 a3 a4 b1 b2 b3 b4"),
      (1L, "a1 a2 a3 a4 a5 a6"),
      (2L, "b1 b2 b3 b4 b5 b6"),
      (3L, "zz yy xx ww vv uu")). // no edge: absent from the output
      toDF("doc_id", "text")
    val r = DedupOps.jaccardPageRank(docs, tau = 0.2, iters = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // by hand: r0 = 1e6 everywhere; iter 1: S gets 1e6 from each arm →
    // 150000 + 850*2000000 DIV 1000 = 1850000; arms get S's 500000
    // share → 575000. iter 2: S share 925000, arm share 575000 →
    // S = 150000 + 850*1150000 DIV 1000 = 1127500,
    // arms = 150000 + 850*925000 DIV 1000 = 936250.
    assert(r(0L) == (2L, 1127500L), r.toString)
    assert(r(1L) == (1L, 936250L), r.toString)
    assert(r(2L) == (1L, 936250L), r.toString)
    assert(!r.contains(3L), r.toString)
  }
}
