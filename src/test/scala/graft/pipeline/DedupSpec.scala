package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the  QUICK  brown fox jumps over the lazy dog"), // norm dup of 0
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup (1 token)
    (4L, "completely different content about spark engines"),
    (5L, "spark engines completely different content about"), // permutation of 4
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val r = Dedup.exact(docs).collect().map(r0 =>
      (r0.getLong(1), r0.getLong(2))).sortBy(_._1)
    // 0,1,2 collapse to one group (keep 0, dups 3); 3,4,5 singletons
    assert(r.toSeq == Seq((0L, 3L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.minhashPairs(docs, shingleN = 1, k = 32, bands = 8,
      threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair missing")
    assert(pairs.contains((0L, 3L)) || pairs.contains((1L, 3L)),
      "near-dup pair missing")
    assert(!pairs.contains((0L, 4L)), "unrelated pair reported")
    // 4 and 5 share the same token SET (permuted) -> unigram Jaccard 1
    assert(pairs.contains((4L, 5L)), "permuted token-set pair missing")
  }

  test("minhash candidate pairs are verified: every reported j is exact") {
    val pairs = Dedup.minhashPairs(docs, shingleN = 1, k = 32, bands = 8,
      threshold = 0.7).collect()
    val ts = docs.select(col("doc_id"), TextFunctions.tokenSet(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val exact = ts(a).intersect(ts(b)).size.toDouble / ts(a).union(ts(b)).size
      assert(math.abs(j - exact) < 1e-12, s"pair ($a,$b): $j vs $exact")
    }
  }

  test("simhash: identical docs have hamming 0; near-dups small hamming") {
    val sh = Dedup.simhashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val hammingNear = java.lang.Long.bitCount(sh(0L) ^ sh(3L))
    val hammingFar = java.lang.Long.bitCount(sh(0L) ^ sh(4L))
    assert(hammingNear < hammingFar,
      s"near $hammingNear should be < far $hammingFar")
  }

  test("simhash pairs via banding match brute-force hamming filter") {
    val viaBands = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    // pigeonhole banding is EXACT for maxHamming 3 with 4 chunks
    assert(viaBands == brute)
  }

  test("ngram jaccard pairs: hand-checkable") {
    val r = Dedup.ngramJaccardPairs(docs, maxId = 10L, threshold = 0.99)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // token-set-identical groups: {0,1,2} and {4,5}
    assert(r == Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)))
  }

  test("fuzzy pairs: edit-distance dedup catches character-level near-copies") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the dog"),
      (1L, "the quick brown fax jumps over the dog"),  // 1 substitution
      (2L, "the quick brown fox jumps over a dog"),    // small edit
      (3L, "完全に別の文書 something else entirely"),
    ).toDF("doc_id", "text")
    val r = Dedup.fuzzyPairs(d, maxId = 10L, maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    val pairs = r.map(x => (x._1, x._2)).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(r.find(x => x._1 == 0L && x._2 == 1L).get._3 == 1)
  }

  test("near-dup clusters: connected components with min-id labels") {
    // {0,1,2} are token-set-identical; {4,5} permuted-identical; 3 links
    // to the 0-cluster only transitively below 0.99... use a chain doc
    // set instead: a~b~c chain must land in ONE component even though
    // a!~c directly.
    val chain = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),   // ~0 (7/9)
      (2L, "alpha beta gamma delta epsilon zeta iota kappa"), // ~1 (7/9), !~0 (6/10)
      (3L, "totally unrelated words here"),
    ).toDF("doc_id", "text")
    val r = Dedup.nearDupClusters(chain, maxId = 10L, threshold = 0.7)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) == 0L && r(1L) == 0L && r(2L) == 0L,
      s"chain should merge transitively: $r")
    assert(r(3L) == 3L, "singleton labels itself")
    assert(r.size == 4)
  }

  test("clusterPairs: LSH-fed clustering equals exact-fed clustering") {
    // the production composition (minhashPairs -> clusterPairs) must
    // reproduce the oracle-checkable exact composition when banding
    // recall is ~1 (r=2 rows/band: a J>=0.7 pair misses all 32 bands
    // with prob (1-0.49)^32 ~ 4e-10)
    val chain = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "alpha beta gamma delta epsilon zeta iota kappa"),
      (3L, "totally unrelated words here"),
    ).toDF("doc_id", "text")
    val viaLsh = Dedup.clusterPairs(
      Dedup.minhashPairs(chain, shingleN = 1, k = 64, bands = 32,
        threshold = 0.7),
      chain.select(col("doc_id")))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val viaExact = Dedup.nearDupClusters(chain, maxId = 10L, threshold = 0.7)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(viaLsh == viaExact, s"lsh $viaLsh vs exact $viaExact")
  }

  test("keep-best selection: per component max n_chars, ties to min doc_id") {
    val chain = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),     // 8 toks
      (1L, "alpha beta gamma delta epsilon zeta eta iota padpad"),// longest
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally unrelated words here"),
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val comp = Dedup.nearDupClusters(chain, maxId = 10L, threshold = 0.7)
    val best = comp.join(chain.select("doc_id", "n_chars"), "doc_id")
      .groupBy("component")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("keep_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component 0 = {0,1,2}: doc 1 is longest; singleton keeps itself
    assert(best == Map(0L -> 1L, 3L -> 3L))
  }

  test("clusterPairs: empty pair set labels every id a singleton") {
    val ids = Seq(3L, 7L, 9L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r = Dedup.clusterPairs(noPairs, ids)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(3L -> 3L, 7L -> 7L, 9L -> 9L))
  }

  test("minhashPairs strands no cache blocks in the caller's session") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashPairs(docs, shingleN = 1, k = 32, bands = 8,
      threshold = 0.7).count()
    System.gc() // let ContextCleaner reap anything merely unreferenced
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"library call left cached RDDs behind: $leaked")
  }

  test("clusterPairs strands no loop caches; empty input persists nothing") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // empty id universe: the early return must not build loop state
    val emptyIds = Seq.empty[Long].toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusterPairs(noPairs, emptyIds).count() == 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "empty-input early return persisted loop state")
    // normal path: loop internals (edges + per-iteration labels) are
    // released before returning; the ONLY surviving blocks are the
    // result's own localCheckpoint, which the ContextCleaner reaps
    // when the caller drops the result
    Dedup.nearDupClusters(docs, maxId = 10L, threshold = 0.7).count()
    System.gc()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"clusterPairs loop caches leaked beyond the result's own blocks: $leaked")
  }

  test("minhash: recall >= 0.8 on pairs planted AT the Jaccard threshold boundary") {
    // default banding (k=32, bands=8, r=4) finds a j=0.724 pair with
    // prob 1-(1-0.724^4)^8 ~ 0.92 per pair — this plants 40 pairs AT
    // the boundary (disjoint vocabularies, so the exact pair set is
    // exactly the planted set) and asserts the family-level floor.
    // Deterministic: MinHashSignature is a fixed hash family, so the
    // found set is a function of the text alone.
    val planted = (0 until 40).flatMap { i =>
      val shared = (0 until 21).map(t => s"w${i}_$t")
      val aOnly = (21 until 25).map(t => s"w${i}_$t")
      val bOnly = (0 until 4).map(t => s"x${i}_$t")
      // |A|=|B|=25, shared 21 -> j = 21/29 ~ 0.724
      Seq((2L * i, (shared ++ aOnly).mkString(" ")),
        (2L * i + 1, (shared ++ bOnly).mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(planted, maxId = 1000L, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 40, s"fixture must plant exactly the 40 pairs, got ${exact.size}")
    val found = Dedup.minhashPairs(planted, shingleN = 1, k = 32, bands = 8,
      threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = found.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"boundary recall $recall (found ${found.intersect(exact).size} of ${exact.size})")
    // exact-Jaccard verify guarantees zero false positives
    assert(found.subsetOf(exact), s"false positives: ${found -- exact}")
    // recall-1 banding (r=2) must find EVERY boundary pair: miss prob
    // per pair is (1-0.724^2)^32 ~ 4e-10 — this is the configuration
    // the dedup_minhash_verified gate row hash-matches against the
    // exact generator's oracle
    val foundR2 = Dedup.minhashPairs(planted, shingleN = 1, k = 64, bands = 32,
      threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foundR2 == exact, s"r=2 banding must equal the exact pair set")
  }

  test("simhash: pairs at hamming EXACTLY 3 (the banding boundary) are found") {
    // 4-chunk pigeonhole banding claims exactness up to hamming 3 —
    // the boundary case is a pair differing in exactly 3 bits. Build
    // single-token variants of a base doc (deterministic simhashes),
    // require the corpus to contain hamming-3 pairs, and assert the
    // banded output equals the brute-force filter INCLUDING them.
    val base = (0 until 30).map(t => s"tok$t")
    val variants = (0 until 60).map { i =>
      (i.toLong, base.updated(i % 30, s"var${i}").mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.simhashes(variants).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDist = (for {
      a <- sh.keys; b <- sh.keys if a < b
    } yield ((a, b), java.lang.Long.bitCount(sh(a) ^ sh(b)))).toMap
    val brute = byDist.filter(_._2 <= 3).keySet
    val atBoundary = byDist.filter(_._2 == 3).keySet
    assert(atBoundary.nonEmpty,
      "fixture must contain a hamming-3 pair; regenerate variants")
    val viaBands = Dedup.simhashPairs(variants, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBands == brute,
      s"banding missed ${brute -- viaBands}, invented ${viaBands -- brute}")
    assert(atBoundary.subsetOf(viaBands), "hamming-3 boundary pairs dropped")
  }

  test("embedding near-dup finds planted duplicate vector") {
    val e = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)), // dup of 0
      (2L, Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(e, planes = 8, threshold = 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embedding near-dup: recall >= 0.95 on pairs planted AT the threshold boundary") {
    // the round-3 test planted a near-identical vector (cos ~ 1.0),
    // which any banding finds — this one plants pairs at cos 0.952-
    // 0.965, just above the 0.95 default threshold, where single-table
    // LSH recall collapses to ~0.28 (the round-3 weak spot)
    val dim = 64
    val rng = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val planted = (0 until 40).flatMap { i =>
      val u = unit()
      // w = random direction orthogonalized against u, normalized
      val w0 = unit()
      val d = (0 until dim).map(j => u(j) * w0(j)).sum
      val w1 = Array.tabulate(dim)(j => w0(j) - d * u(j))
      val n1 = math.sqrt(w1.map(x => x * x).sum)
      val w = w1.map(_ / n1)
      val c = 0.952 + 0.013 * rng.nextDouble() // target cos in [0.952, 0.965]
      val s = math.sqrt(1 - c * c)
      val v = Array.tabulate(dim)(j => c * u(j) + s * w(j))
      Seq((2L * i, u), (2L * i + 1, v))
    }
    val background = (0 until 40).map(i => (1000L + i, unit()))
    val e = (planted ++ background).map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDup(e, threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact cosine over the SAME float data
    val exact = Dedup.exactCosinePairs(e, maxId = 10000L, threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 35, s"fixture must plant boundary pairs, got ${exact.size}")
    val recall = found.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"boundary recall $recall (found ${found.intersect(exact).size} of ${exact.size})")
    // the exact verify guarantees zero false positives
    assert(found.subsetOf(exact), s"false positives: ${found -- exact}")
  }

  test("incremental minhash: batch-vs-corpus pairs exactly, never corpus-vs-corpus") {
    // seeded shared-vocabulary corpus (the prefix-join fixture's
    // recipe) split into a settled corpus and a new batch; recall-1
    // banding makes the found set a deterministic function of the text
    val rng = new scala.util.Random(0xBEEF)
    val vocab = (0 until 50).map(i => s"v$i")
    val base = (0 until 40).map { i =>
      val n = 8 + rng.nextInt(10)
      (i.toLong, rng.shuffle(vocab).take(n).mkString(" "))
    }
    // the batch: near-copies of corpus docs (one token dropped — high
    // j), near-copies of other BATCH docs, and fresh random docs
    val batch0 = (40 until 45).map { i =>
      (i.toLong, base(i - 40)._2.split(" ").drop(1).mkString(" "))
    } ++ Seq((45L, base(0)._2), (46L, "q1 q2 q3 q4 q5"),
      (47L, "q1 q2 q3 q4 q5 q6")) ++ (48 until 60).map { i =>
      (i.toLong, rng.shuffle(vocab).take(8 + rng.nextInt(10)).mkString(" "))
    }
    val all = base ++ batch0
    val corpus = base.toDF("doc_id", "text")
    val batch = batch0.toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(all.toDF("doc_id", "text"),
      maxId = 1000L, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (_, b) => b >= 40 } // at least one new
    val got = Dedup.incrementalMinhashPairs(batch, corpus,
      shingleN = 1, k = 64, bands = 32, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture must produce cross pairs")
    assert(got == expected,
      s"missing ${expected -- got}, extra ${got -- expected}")
    assert(got.forall { case (a, b) => a >= 40 || b >= 40 },
      "emitted a corpus-vs-corpus pair")
  }

  test("prefix-filter jaccard == brute force on random corpora across thresholds") {
    // seeded random corpus over a SHARED small vocabulary: docs
    // overlap heavily and at every similarity level, so the exact pair
    // set exercises boundary, near-boundary, and disjoint pairs alike.
    // Equality (not recall) is the contract: prefix filtering is exact.
    val rng = new scala.util.Random(0xC0FFEE)
    val vocab = (0 until 60).map(i => s"v$i")
    val corpus = (0 until 80).map { i =>
      val n = 3 + rng.nextInt(18)
      val toks = rng.shuffle(vocab).take(n)
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.724, 0.8, 1.0)) {
      val brute = Dedup.ngramJaccardPairs(corpus, maxId = 1000L, threshold = t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefix = Dedup.prefixJaccardPairs(corpus, threshold = t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prefix == brute,
        s"t=$t: prefix-filter diverged from brute force " +
          s"(missing ${brute -- prefix}, extra ${prefix -- brute})")
    }
  }

  test("containment join == brute force across thresholds; direction matters") {
    val rng = new scala.util.Random(0xACE)
    val vocab = (0 until 40).map(i => s"v$i")
    val corpus = ((0 until 50).map { i =>
      val n = 3 + rng.nextInt(12)
      (i.toLong, rng.shuffle(vocab).take(n).mkString(" "))
    } ++ Seq(
      (100L, "v0 v1 v2"),                 // strictly contained in 101
      (101L, "v0 v1 v2 v3 v4 v5 v6 v7"))).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.75, 0.9, 1.0)) {
      val ts = corpus.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), TextFunctions.tokenSet(col("text")).as("ts"))
      val brute = ts.alias("a").join(ts.alias("b"),
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (size(array_intersect(col("a.ts"), col("b.ts"))).cast("double") /
            size(col("a.ts"))).as("c"))
        .filter(col("c") >= t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.containmentPairs(corpus, t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"t=$t: missing ${brute -- got}, extra ${got -- brute}")
    }
    // the planted strict containment is found at t=1 in ONE direction
    val exact = Dedup.containmentPairs(corpus, 1.0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((100L, 101L)), "contained doc not found")
    assert(!exact.contains((101L, 100L)), "containment must be directional")
  }

  test("prefix-filter jaccard at trigram shingles == shingle-set brute force") {
    // 11 shared tokens + 1 unique tail: 9 shared trigrams, 1 unique
    // per doc -> pairwise shingle j = 9/11 ~ 0.82; plus disjoint docs
    val common = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"
    val corpus = ((0 until 20).map(i => (i.toLong, s"$common u$i")) ++
      (20 until 25).map(i => (i.toLong, s"x${i}a x${i}b x${i}c x${i}d")))
      .toDF("doc_id", "text")
    val sh = corpus
      .select(col("doc_id"),
        TextFunctions.wordShingles(col("text"), 3).as("ts"))
    val brute = sh.alias("a").join(sh.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        JaccardReference.jaccard(col("a.ts"), col("b.ts")).as("j"))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.prefixJaccardPairs(corpus, 0.5, shingleN = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must overlap at the shingle level")
    assert(prefix == brute,
      s"missing ${brute -- prefix}, extra ${prefix -- brute}")
  }

  test("prefix-filter jaccard keeps integer-boundary pairs the fp size filter could drop") {
    // |A|=4, |B|=5, A ⊂ B at t=0.8: j = 4/5 = 0.8 EXACTLY, and the
    // size-compatibility prune computes 4 >= 0.8*5 where fp 0.8*5 is
    // 4.000000000000000222 — without the ε slack this true pair is
    // rejected before the verify ever sees it
    val d = Seq(
      (0L, "a b c d"),
      (1L, "a b c d e"),
      (2L, "p q r s t u v w x y")).toDF("doc_id", "text")
    val pairs = Dedup.prefixJaccardPairs(d, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 0.8)),
      s"expected exactly the (0,1) boundary pair, got ${pairs.toSeq}")
  }

  test("prefix-filter jaccard: blank docs follow the exact generator's discipline") {
    val d = Seq(
      (0L, "shared tokens here exactly"),
      (1L, "shared tokens here exactly"),
      (2L, "   "), // blank — exact dedup's class, never near-dup's
      (3L, "")).toDF("doc_id", "text")
    val pairs = Dedup.prefixJaccardPairs(d, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
    val brute = Dedup.ngramJaccardPairs(d, maxId = 10L, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == brute)
  }

  test("sorted neighborhood == brute force restricted to the window") {
    // deterministic lengths pin the (n_chars, doc_id) sort order
    val raw = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta x"),      // near dup of 0, close length
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "unrelated words entirely here now"),
      (4L, "alpha beta gamma delta epsilon"), // exact token dup of 2
      (5L, "zz"),
      (6L, "totally different content again with padding words"))
    val d = raw.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val w = 3
    val got = Dedup.sortedNeighborhoodPairs(d, threshold = 0.6, window = w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // local reference: same sort, same window, same jaccard
    def toks(s: String) = s.toLowerCase.trim.split("\\s+").toSet
    val order = raw.filter(_._2.trim.nonEmpty)
      .sortBy(t => (t._2.length, t._1)).map(_._1)
    val expected = (for {
      i <- order.indices
      j <- (i + 1) until math.min(i + w, order.length)
      a = raw.find(_._1 == order(i)).get._2
      b = raw.find(_._1 == order(j)).get._2
      inter = toks(a).intersect(toks(b)).size.toDouble
      jac = inter / (toks(a).size + toks(b).size - inter)
      if jac >= 0.6
    } yield (math.min(order(i), order(j)), math.max(order(i), order(j)))).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(got.nonEmpty, "fixture must produce at least one in-window pair")
  }

  test("sorted neighborhood: a true pair beyond the window is missed (the declared trade)") {
    // ids 0 and 9 share the same token set but whitespace padding puts
    // 8 docs of intermediate length between them in (n_chars, id) order
    val far = Seq(
      (0L, "alpha beta gamma"),
      (9L, "alpha   beta   gamma" + " " * 40)) ++
      (1L to 8L).map(i => (i, s"filler$i words" + " " * (i.toInt * 3)))
    val d = far.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.sortedNeighborhoodPairs(d, threshold = 0.9, window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((0L, 9L)),
      "a pair >window apart in key order must be missed — that is the method")
    // the same pair IS found by the exact generator (recall-1 family)
    val brute = Dedup.ngramJaccardPairs(d, maxId = 100L, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((0L, 9L)))
  }

  test("sorted neighborhood: no global-window funnel in the physical plan") {
    val d = docs.withColumn("n_chars", length(col("text")))
    val out = Dedup.sortedNeighborhoodPairs(d, threshold = 0.6, window = 3)
    out.collect() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    // the global index comes from zipWithIndex over the range-
    // partitioned sort — a Window operator here would mean the
    // single-task ROW_NUMBER() funnel this operator exists to avoid
    assert(!plan.contains("Window"), s"window funnel:\n${plan.take(1500)}")
  }

  test("sorted neighborhood: blank docs drop; singleton corpus yields no pairs") {
    val d = Seq((0L, "only doc here"), (1L, "   "), (2L, ""))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    assert(Dedup.sortedNeighborhoodPairs(d, threshold = 0.1, window = 5)
      .collect().isEmpty)
    intercept[IllegalArgumentException](
      Dedup.sortedNeighborhoodPairs(d, threshold = 0.5, window = 1))
  }

  test("winnowing overlap pairs == shared-fingerprint counts from the fingerprint op") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu unique tail zero"),
      (1L, "different head one alpha beta gamma delta epsilon zeta eta " +
        "theta iota kappa lambda mu other ending"),
      (2L, "totally unrelated words about distributed query engines"),
      (3L, "more unrelated text concerning columnar storage formats"),
    ).toDF("doc_id", "text")
    val got = Dedup.winnowingOverlapPairs(corpus, k = 3, window = 4,
        minShared = 2, maxDf = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // independent reference: intersect each pair's fingerprint-hash set
    val fps = TextAnalysis.winnowingFingerprints(corpus, k = 3, window = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      n = (fps(a) & fps(b)).size if n >= 2
    } yield (a, b) -> n.toLong).toMap
    assert(got === want, s"got $got want $want")
    assert(got.contains((0L, 1L)),
      "the planted 12-token shared run must pair")
    assert(!got.keys.exists { case (a, b) => a >= 2L || b >= 2L },
      "unrelated docs must not pair")
  }

  test("winnowing overlap: boilerplate fingerprints above maxDf never pair docs") {
    // every doc opens with the same 8-token header; their bodies are
    // disjoint. At maxDf=1 the header fingerprints (df=3) are dropped,
    // so NO pairs survive; at maxDf=100 the header pairs everything.
    val header = "standard license header shared by every single file"
    val corpus = Seq(
      (0L, s"$header body one about alpha things"),
      (1L, s"$header body two about beta matters"),
      (2L, s"$header body three about gamma topics"),
    ).toDF("doc_id", "text")
    val loose = Dedup.winnowingOverlapPairs(corpus, k = 3, window = 4,
      minShared = 1, maxDf = 100L).count()
    val strict = Dedup.winnowingOverlapPairs(corpus, k = 3, window = 4,
      minShared = 1, maxDf = 1L).count()
    assert(loose === 3L, s"header must pair all 3 docs, got $loose")
    assert(strict === 0L, "df-filtered fingerprints must not pair")
  }

  test("semantic near-dup finds intra-cluster pairs; exact verify kills cross-cluster") {
    // three well-separated directions with small perturbations: every
    // intra-cluster pair has cos ~ 1, every cross-cluster pair cos ~ 0.
    // Seeded k-means makes the outcome deterministic, not flaky.
    val rng = new scala.util.Random(7)
    def noisy(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.1f).toSeq
    val bases = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = for {
      (b, c) <- bases.zipWithIndex
      i <- 0 until 6
    } yield ((c * 6 + i).toLong, noisy(b))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Dedup.semanticNearDup(emb, threshold = 0.9, nCells = 3,
        sampleSize = 18)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactCosinePairs(emb, maxId = 100L, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must plant high-cos pairs")
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(got === exact,
      s"cell-boundary misses on separated clusters: ${exact -- got}")
    // no pair may straddle clusters
    assert(got.forall { case (x, y) => x / 6 === y / 6 })
  }

  test("semantic near-dup: exhaustive assignment (nAssign = nCells) == exact generator") {
    // UNSTRUCTURED random vectors — the regime where cell-boundary
    // misses actually happen at nAssign < nCells. Exhaustive soft
    // assignment puts every vector in every cell, so the candidate set
    // is all pairs and the result must equal the O(n²) ground truth —
    // the recall-1 construction the dedup_semantic_verified gate row
    // hash-checks against DuckDB's exact cosine join.
    val rng = new scala.util.Random(23)
    val emb = (0L until 80L)
      .map(i => (i, Seq.fill(8)(rng.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticNearDup(emb, threshold = 0.5, nCells = 4,
        nAssign = 4, sampleSize = 80)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactCosinePairs(emb, maxId = 100L, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must plant pairs above threshold")
    assert(got === exact,
      s"missing ${exact -- got}, extra ${got -- exact}")
  }

  test("novelKeys == plain anti-join, including NULL-keyed batch rows") {
    val batch = Seq((Some(1L), "a"), (Some(2L), "b"), (Some(2L), "b"),
      (None, "c"), (Some(9L), "z")).toDF("k", "t")
    val corpus = Seq((Some(2L), "b"), (Some(3L), "d"), (None, "c"))
      .toDF("k", "t")
    val got = Dedup.novelKeys(batch, corpus, Seq("k", "t"))
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    // (2,b) seen; NULL never equals NULL in the anti join, so the
    // NULL-keyed batch row stays novel — SQL ANTI JOIN semantics
    assert(got == Set((Some(1L), "a"), (None, "c"), (Some(9L), "z")))
  }

  test("novelKeys stays exact under heavy Bloom false positives") {
    val batch = (0L until 50L).toDF("k")
    val corpus = (25L until 1000L).toDF("k")
    // expectedBatchKeys=1 forces a saturated, tiny sketch — nearly
    // every corpus key becomes a suspect; the exact anti join must
    // still remove all of them
    val got = Dedup.novelKeys(batch, corpus, Seq("k"), expectedBatchKeys = 1)
      .as[Long].collect().toSet
    assert(got == (0L until 25L).toSet)
  }

  test("novelKeys plan: corpus side is scan+bloom-filter, no corpus-wide exchange before the prune") {
    val batch = Seq(1L, 2L).toDF("k")
    val corpus = (0L until 100L).toDF("k")
    val plan = Dedup.novelKeys(batch, corpus, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"corpus prune is not a Bloom might_contain filter:\n$plan")
  }

  // hand-computable substring-dedup corpus (L = 3):
  //   10/11 share the 5-token run "c d e f g" embedded mid-document;
  //   12 is internally periodic (every gram repeats);
  //   13 is below gram length, 14 empty;
  //   20 duplicates its head against 21 and its tail against 22 —
  //   the two duplicated grams ABUT (positions 1 and 4, gap = L), so
  //   they merge into one contiguous duplicated block
  private lazy val subDocs = Seq(
    (10L, "a b c d e f g h"),
    (11L, "x1 x2 c d e f g y1"),
    (12L, "p q r p q r p q r"),
    (13L, "m n"),
    (14L, ""),
    (20L, "g1 g2 g3 g4 g5 g6"),
    (21L, "g1 g2 g3 z1 z2 z3"),
    (22L, "z9 g4 g5 g6 z8 z7"),
  ).toDF("doc_id", "text")

  test("duplicatedSpans finds the shared run, merges overlap and abutment") {
    val spans = Dedup.duplicatedSpans(subDocs, L = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(spans.toSeq == Seq(
      (10L, 3L, 7L, 3L), // "c d e f g": grams at 3,4,5
      (11L, 3L, 7L, 3L),
      (12L, 1L, 9L, 7L), // fully periodic: one whole-doc span
      (20L, 1L, 6L, 2L), // head gram (pos 1) + tail gram (pos 4) abut
      (21L, 1L, 3L, 1L),
      (22L, 2L, 4L, 1L),
    ), s"got ${spans.toSeq}")
  }

  test("duplicatedSpans: span bounds stay inside the document") {
    val n = subDocs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
    val bad = Dedup.duplicatedSpans(subDocs, L = 3)
      .join(n, "doc_id")
      .filter(col("span_start") < 1 || col("span_end") > col("n") ||
        col("span_start") > col("span_end"))
      .count()
    assert(bad == 0)
  }

  test("duplicatedSpans plan: exactly 2 shuffles (gram hash, then doc) and no join") {
    val plan = Dedup.duplicatedSpans(subDocs, L = 3)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("BroadcastExchange"))
    assert(exchanges == 2, s"expected 2 shuffle exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"multiplicity must come from the window, not a join back:\n$plan")
  }

  test("substringDupStats: disjoint-span token sums and zero rows for clean docs") {
    val stats = Dedup.substringDupStats(subDocs, L = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(stats(12L) == ((9L, 1L, 9L, Some(1.0)))) // fully duplicated
    assert(stats(10L) == ((8L, 1L, 5L, Some(5.0 / 8.0))))
    assert(stats(13L) == ((2L, 0L, 0L, Some(0.0)))) // below gram length
    assert(stats(14L)._1 == 0L)
    assert(stats(14L)._4.isEmpty, "empty doc must report NULL fraction")
  }
}
