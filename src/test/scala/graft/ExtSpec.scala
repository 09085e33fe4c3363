package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Multimodal, Packing, Sampling, Scrub, Similarity, TextStats}

/** Training-data extension operators: dedup, similarity, text, media. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pin the copy-on-write row-level seam for a test asserting its
    * file-rewrite semantics — the DEFAULT delta path (position mask +
    * append, zero rewrite) has its own specs. */
  private def withCow[T](body: => T): T = {
    spark.conf.set("spark.graft.rowops.mode", "cow")
    try body finally spark.conf.unset("spark.graft.rowops.mode")
  }

  test("exact dedup keeps min id per identical text") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(docs, "text", "doc_id").orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("shingles: w=3 over tokens; short docs collapse to one shingle") {
    val df = Seq("a b c d e", "a b").toDF("text")
    val got = df.select(Dedup.shingles($"text").as("s")).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq("a b"))
  }

  test("minhash LSH finds exact duplicates as candidates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with other words entirely here now")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs, "text", "doc_id")
    val pairs = Dedup.minhashCandidates(sig, "doc_id").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("connected components: chains merge, isolated pairs stay separate") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L), (9L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).orderBy("id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("connected components: reliable-checkpoint flag persists levels to the DFS dir, same labels") {
    // executor loss after a localCheckpoint is job-fatal (lineage is
    // truncated, blocks are executor-local); the flag flips level
    // finalization to reliable checkpoint() under the configured dir
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L), (9L, 8L)).toDF("id_a", "id_b")
    val expected = Dedup.connectedComponents(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set("spark.graft.cc.reliableCheckpoint", "true")
    try {
      val got = Dedup.connectedComponents(pairs).orderBy("id")
        .as[(Long, Long)].collect().toSeq
      assert(got == expected)
      // proof the reliable path ran: checkpoint data landed under the
      // configured dir (localCheckpoint writes nothing there)
      val entries = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .count()
      assert(entries > 1, s"expected reliable checkpoint data under $ckpt")
    } finally spark.conf.unset("spark.graft.cc.reliableCheckpoint")
  }

  test("componentsFromBuckets: cross-bucket chains merge; same fixpoint as pair CC") {
    // synthetic buckets with a cross-bucket chain: {1,2,3} ∪ {3,9} and
    // an isolated {5,6} — star edges + clique seeds must still merge
    // the chain through the shared node 3
    val buckets = Seq(
      (0, "b0", Seq(2L, 1L, 3L)),
      (1, "b1", Seq(9L, 3L)),
      (0, "b2", Seq(5L, 6L))).toDF("band", "bucket", "ids")
    val fromBuckets = Dedup.componentsFromBuckets(buckets).as[(Long, Long)].collect().toMap
    assert(fromBuckets == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // real data: identical fixpoint to pair-expansion connectedComponents
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sig = Dedup.minhashSignatures(docs, "text", "doc_id", k = 8)
    val b = Dedup.minhashBuckets(sig, "doc_id", k = 8, rowsPerBand = 2, maxBucket = 100)
    val pairs = Dedup.minhashCandidates(sig, "doc_id", k = 8, rowsPerBand = 2, maxBucket = 100)
    val got = Dedup.componentsFromBuckets(b).orderBy("id").as[(Long, Long)].collect().toSeq
    val want = Dedup.connectedComponents(pairs).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("componentsFromBuckets: long hub chain recurses to the global min; empty input ok") {
    // a 7-bucket chain 1-2, 2-3, ..., 7-8 forces several contraction
    // levels (each level peels the chain down by its settled leaves) —
    // every node must still land on component 1
    val chain = (1L to 7L).map(i => (0, s"b$i", Seq(i, i + 1))).toDF("band", "bucket", "ids")
    val got = Dedup.componentsFromBuckets(chain).as[(Long, Long)].collect().toMap
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
    // degenerate empty bucket list: empty result, no rounds, no error
    val empty = Seq.empty[(Int, String, Seq[Long])].toDF("band", "bucket", "ids")
    assert(Dedup.componentsFromBuckets(empty).count() == 0L)
  }

  test("weightedSample: prob 0 drops, prob 1 keeps, clamping holds") {
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) 5.0 else -1.0)).toDF("doc_id", "p")
    val kept = Sampling.weightedSample(rows, "doc_id", $"p")
      .select($"doc_id").as[Long].collect().toSet
    // p=-1 clamps to 0 (never kept); p=5 clamps to 1 (always kept,
    // because hashFraction is strictly below 1.0 by construction)
    assert(kept == (1L to 200L).filter(_ % 2 == 0).toSet)
  }

  test("capTokensPerStratum: strict prefix in hash order per stratum; unlisted strata drop") {
    val rows = Seq(
      (1L, "a", 100), (2L, "a", 100), (3L, "a", 100), (4L, "a", 100),
      (10L, "b", 50), (11L, "b", 50),
      (20L, "c", 10)).toDF("doc_id", "source", "n_tokens")
    val got = Sampling.capTokensPerStratum(rows, "doc_id", "source", "n_tokens",
      Map("a" -> 250L, "b" -> 1000L))
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().toMap
    // stratum a: hash order of ids 1..4; exactly the first two fit 250
    // (each 100 tokens; the third overflows and ends the prefix)
    val hashOrder = Seq(1L, 2L, 3L, 4L).sortBy(id =>
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16))
    assert(got.keySet.filter(_ <= 4L) == hashOrder.take(2).toSet)
    assert(got(hashOrder.head) == 100L && got(hashOrder(1)) == 200L)
    // stratum b fits entirely; stratum c is unlisted → dropped
    assert(got.keySet.filter(_ >= 10L) == Set(10L, 11L))
  }

  test("dedupSpans: cross-doc repeated 8-token span stripped, unique text kept") {
    val span = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon"),
      (3L, "totally unique text that shares nothing with the others at all"),
      (4L, "short doc")).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "text", "doc_id", k = 8)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect()
    // doc 1: 11 tokens, windows starting at 2 covers the span; doc 2:
    // window at 0. Unique surroundings survive, the shared span goes.
    assert(got(0) == ((1L, 11, 1, "alpha beta gamma")))
    assert(got(1) == ((2L, 10, 1, "delta epsilon")))
    // untouched docs: zero dup windows, full text kept (doc 4 is
    // shorter than one window and never enters the window pipeline)
    assert(got(2)._3 == 0 && got(2)._4.startsWith("totally unique"))
    assert(got(3) == ((4L, 2, 0, "short doc")))
  }

  test("token_window_hashes: rolling expression bit-matches the built-in formulation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = Dedup.windowHashes(docs, "text", "doc_id", k = 8)
    val slow = Dedup.windowHashesHof(docs, "text", "doc_id", k = 8)
    assert(fast.count() > 0)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    // edge cases: doc exactly k tokens → one window at start 0; doc
    // shorter than k → no rows; null text → no rows; single-window
    // hashes are non-negative (packed residues < 2^62)
    val edge = Seq((1L, "a b c"), (2L, "a b"), (3L, null)).toDF("doc_id", "text")
    val e = Dedup.windowHashes(edge, "text", "doc_id", k = 3)
      .as[(Long, Int, Long)].collect()
    assert(e.toSeq.map(r => (r._1, r._2)) == Seq((1L, 0)) && e.head._3 >= 0L)
    // identical windows in different docs collide (the dedup signal)
    val twin = Seq((1L, "x one two three y"), (2L, "z one two three w")).toDF("doc_id", "text")
    val th = Dedup.windowHashes(twin, "text", "doc_id", k = 3)
      .groupBy($"wh").agg(countDistinct($"doc_id").as("n"))
      .filter($"n" === 2).count()
    assert(th == 1L)
  }

  test("decontaminate: corpus docs sharing eval windows are flagged and removable") {
    val span = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val bench = Seq((100L, span)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro text here then $span closing words"),  // contaminated (2 shared windows)
      (2L, "completely unrelated content that never overlaps the benchmark at all here"),
      (3L, "tiny")).toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, bench, "text", "doc_id", k = 8)
      .as[(Long, Long)].collect().toMap
    // the 9-token span yields 2 distinct 8-token windows shared by doc 1
    assert(hits == Map(1L -> 2L))
    val clean = Dedup.decontaminate(corpus, bench, "text", "doc_id", k = 8)
      .select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("simhash: identical docs identical fingerprints; fingerprint in 32-bit range") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "x y z")).toDF("doc_id", "text")
    val got = Dedup.simhash(docs, "text", "doc_id").orderBy("doc_id").as[(Long, Long)].collect()
    assert(got(0)._2 == got(1)._2)
    assert(got.forall(r => r._2 >= 0 && r._2 <= 0xFFFFFFFFL))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(docs, pairs, "text", "doc_id")
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0), (1L, 3L, 0.0)))
  }

  test("custom VecDotProduct expression matches the HOF formulation bit-for-bit") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("p")).head().getSeq[Float](0)
    val pLit = array(probe.map(v => lit(v)): _*)
    val cmp = emb.select(
      Similarity.dot($"embedding", pLit).as("custom"),
      Similarity.dotHof($"embedding", pLit.cast("array<double>")).as("hof"))
    assert(cmp.filter($"custom" =!= $"hof").count() == 0)
    // and via SQL text
    emb.createOrReplaceTempView("emb_v")
    val sqlN = spark.sql("SELECT vec_dot(embedding, embedding) AS d FROM emb_v").count()
    assert(sqlN == emb.count())
  }

  test("cosine: orthogonal=0, identical=1") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(2f, 0f))).toDF("vec_id", "embedding")
    val probe = vecs.filter($"vec_id" === 1).select($"embedding".as("probe_vec"))
    val got = Similarity.bruteForceTopK(vecs, probe, "vec_id", "embedding", 3)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0 && got(3L) == 1.0 && got(2L) == 0.0)
  }

  test("lsh bucket: identical direction → same bucket; ann recovers self") {
    val vecs = (0 until 20).map(i => (i.toLong, Seq.tabulate(8)(d => (i * 7 + d * 3 % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val probe = vecs.filter($"vec_id" === 5).select($"embedding".as("probe_vec"))
    val got = Similarity.lshTopK(vecs, probe, "vec_id", "embedding", 5, nPlanes = 4, dim = 8)
      .as[(Long, Double)].collect()
    assert(got.nonEmpty && got.exists(_._1 == 5L))
  }

  test("lsh multi-probe: empty primary bucket still returns the Hamming-1 neighbor") {
    // construct a corpus vector u and probe w that agree on plane 1 and
    // disagree on plane 0 — buckets at exactly Hamming distance 1 —
    // using the deterministic hyperplanes themselves: u = h0 + h1 flips
    // to w = -h0 + h1 on plane 0 only (valid whenever |<h0,h1>| < dim)
    val planes = Similarity.hyperplanes(2, 8)
    val s01 = planes(0).zip(planes(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(s01) < 8.0, "deterministic planes must not be (anti)parallel")
    val u = planes(0).zip(planes(1)).map { case (a, b) => (a + b).toFloat }
    val w = planes(0).zip(planes(1)).map { case (a, b) => (-a + b).toFloat }
    val corpus = Seq((7L, u.toSeq)).toDF("vec_id", "embedding")
    val probe = Seq(Tuple1(w.toSeq)).toDF("probe_vec")
    val primary = Similarity.lshTopK(corpus, probe, "vec_id", "embedding",
      k = 5, nPlanes = 2, dim = 8, multiProbe = false)
    assert(primary.isEmpty, "primary bucket must be empty for this construction")
    val multi = Similarity.lshTopK(corpus, probe, "vec_id", "embedding",
      k = 5, nPlanes = 2, dim = 8, multiProbe = true)
    assert(multi.as[(Long, Double)].collect().map(_._1).toSeq == Seq(7L))
  }

  test("nearDupPairs: maxBucket drops a degenerate bucket, keeps normal ones") {
    // 5 identical vectors → one bucket of 5 (10 pairs at cosine 1.0);
    // 2 opposite-direction vectors → a different bucket pair
    val vecs = ((0 until 5).map(i => (i.toLong, Seq(1f, 2f, 3f, 4f))) ++
      Seq((10L, Seq(-1f, -2f, -3f, -4f)), (11L, Seq(-1f, -2f, -3f, -4f))))
      .toDF("vec_id", "embedding")
    def run(cap: Int) = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 4, dim = 4, maxBucket = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = run(100)
    assert(uncapped.size == 11 && uncapped.contains((10L, 11L)))
    // cap 4 drops only the 5-occupancy bucket; the pair bucket survives
    assert(run(4) == Set((10L, 11L)))
  }

  test("nearDupPairs multi-probe: recovers a pair straddling one hyperplane") {
    // u is orthogonal to plane 0 by construction: each index pair
    // (2j, 2j+1) holds aⱼ·(h0[2j+1], −h0[2j]), contributing
    // aⱼ·(h0[2j]·h0[2j+1] − h0[2j+1]·h0[2j]) = 0 to u·h0 for ANY
    // block coefficient aⱼ. The coefficients must ALSO leave u
    // off-plane for every other hyperplane — all-ones happens to be
    // exactly orthogonal to plane 1 with these md5 planes (the r3
    // fixture's bug: the ±ε nudge then flipped two planes, Hamming-2).
    // a₀=2 gives margins (0, 2, −4, 14), asserted below before use.
    // Nudging ±ε along h0 then puts v1/v2 on opposite sides of plane 0
    // only (ε·|h0·hₘ| ≤ 0.016 ≪ 2) while staying ~identical in cosine.
    val dim = 16
    val planes = Similarity.hyperplanes(4, dim).map(_.toArray)
    val h0 = planes.head
    val u = Array.tabulate(dim) { i =>
      val a = if (i / 2 == 0) 2.0 else 1.0
      a * (if (i % 2 == 0) h0(i + 1) else -h0(i - 1))
    }
    def margin(h: Array[Double]) = u.zip(h).map { case (x, y) => x * y }.sum
    assert(margin(h0) == 0.0)
    planes.tail.foreach(h => assert(math.abs(margin(h)) >= 2.0,
      "construction precondition: every non-target plane needs nonzero margin"))
    val eps = 0.001
    val v1 = u.zip(h0).map { case (a, b) => (a + eps * b).toFloat }.toSeq
    val v2 = u.zip(h0).map { case (a, b) => (a - eps * b).toFloat }.toSeq
    val vecs = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    // the construction must put them one bit apart (plane 0 flips, the
    // ε-nudge is too small to flip any other plane's larger margin)
    val buckets = vecs.select(
      Similarity.lshBucket($"embedding", Similarity.hyperplanes(4, dim)).as("b"))
      .as[Long].collect()
    assert(java.lang.Long.bitCount(buckets(0) ^ buckets(1)) == 1)
    def run(mp: Boolean) = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 4, dim = dim, multiProbe = mp)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(run(false) == Set.empty)
    assert(run(true) == Set((1L, 2L)))
    // real data: multi-probe pairs are a superset of single-probe pairs
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(mp: Boolean) = Similarity.nearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, nPlanes = 4, multiProbe = mp)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val (single, multi) = (pairs(false), pairs(true))
    assert(single.subsetOf(multi))
  }

  test("BPE merge table: each rule side is a single char or an earlier output") {
    // the invariant that makes sequential rule application exact BPE
    // inference — a later merge can never create an earlier rule's pair
    val outputs = scala.collection.mutable.Set.empty[String]
    TextStats.bpeMerges.foreach { case (a, b) =>
      assert(a.length == 1 || outputs.contains(a), s"left side '$a' not derivable")
      assert(b.length == 1 || outputs.contains(b), s"right side '$b' not derivable")
      outputs += (a + b)
    }
    // and no duplicate rules (a dup would be a dead rule: its pair
    // can't survive the first application)
    assert(TextStats.bpeMerges.distinct == TextStats.bpeMerges)
  }

  test("bpeTokens kernel == nested-fold HOF twin; hand-checked merges") {
    // expectations independently derived by tools/bpe_train_table.py's
    // Python replica of the greedy kernel over the checked-in
    // 1100-rule trained table
    val hand = Seq(
      (1L, "the cat"),            // both fully merge under the trained table
      (2L, "qqq zz"),             // no rule applies → chars
      (3L, "this, that and 42!"), // punctuation marks + digit run
      (4L, ""),                   // empty → no tokens
      (5L, "With WITH with"),     // case-folded before merging
      (6L, "merge the small batch") // all four are corpus vocabulary now
    ).toDF("doc_id", "text")
    val got = hand.select($"doc_id", TextStats.bpeTokens($"text").as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("the", "cat"))
    assert(got(2L) == Seq("q", "q", "q", "z", "z"))
    // the round-8 corpus (the driver's testdata drifts between rounds;
    // the table header's corpus hash now records which one trained it)
    // carries digit runs frequent enough to learn "42" as one merge
    assert(got(3L) == Seq("this", ",", "that", "and", "42", "!"))
    assert(got(4L) == Seq.empty)
    assert(got(5L) == Seq("with", "with", "with"))
    // the corpus-first retrain makes every documents-corpus word a
    // single token — "small" and "batch" merge whole now
    assert(got(6L) == Seq("merge", "the", "small", "batch"))
    // differential vs the built-in-only nested-fold formulation, on
    // hand cases AND real data. The HOF twin re-folds all 1100 rules
    // per word with no cache (its cost is the reason the kernel
    // exists), so the real-data leg runs on a slice
    for (df <- Seq(hand, Tables.documents(spark, "/root/testdata/sf0.001").limit(20))) {
      val diff = df.select(
        TextStats.bpeTokens($"text").as("a"),
        TextStats.bpeTokensHof($"text").as("b"))
        .filter(not($"a" <=> $"b"))
      assert(diff.count() == 0, s"kernel/HOF divergence: ${diff.head(3).toSeq}")
    }
  }

  test("langIdNgram: trained trigram profiles identify 7 languages; beats stopword argmax where stopwords are absent or unlisted") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the cat"),
      (2L, "der hund und die katze spielen in dem garten mit den kindern"),
      (3L, "le chien et le chat jouent dans le jardin avec les enfants"),
      (4L, "el perro y el gato juegan en el jardin con los ninos"),
      (5L, "il cane e il gatto giocano nel giardino con i bambini"),
      (6L, "o cachorro e o gato brincam no jardim com as criancas"),
      (7L, "de hond en de kat spelen in de tuin met de kinderen"),
      (8L, "12345 !!! ???"),
      // the DIFFERENTIAL fixtures: no stopword from any list appears,
      // so the stopword argmax returns "unknown" — morphology alone
      // (characteristic trigrams of content words) still identifies
      (9L, "strong winds swept through tall thick forests yesterday"),
      (10L, ""),
      (11L, null)
    ).toDF("doc_id", "text")
    val got = TextStats.langIdNgram(docs, "text", "doc_id")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr" &&
      got(4L) == "es" && got(5L) == "it" && got(6L) == "pt" && got(7L) == "nl",
      s"language fixtures misclassified: $got")
    assert(got(8L) == "unknown" && got(10L) == "unknown")
    // NULL text: scores coalesce to 0 -> "unknown" (was the last
    // language before the coalesce — the argmax chain saw NULLs)
    assert(got(11L) == "unknown")
    assert(got(9L) == "en")
    // the stopword form's limits, measured on the same fixtures: it
    // cannot name it/pt/nl (not in its lists) and calls the
    // stopword-free English sentence unknown — the trained trigram
    // table covers both failure modes
    val stopword = TextStats.langId(docs, "text", "doc_id")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(stopword(9L) == "unknown" && got(9L) == "en")
    assert(!Set("it", "pt", "nl").contains(stopword(5L)))
    assert(!Set("it", "pt", "nl").contains(stopword(6L)))
    // scores are exact integers and every language column is present
    val cols = TextStats.langIdNgram(docs, "text", "doc_id").columns.toSeq
    assert(cols == Seq("doc_id", "en_score", "de_score", "fr_score", "es_score",
      "it_score", "pt_score", "nl_score", "predicted_lang"))
  }

  test("langIdNgram plan: fused kernel keeps the operator a shuffle-free projection; joined twin broadcasts") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val plan = TextStats.langIdNgram(docs, "text", "doc_id").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"kernel path must be a pure projection:\n$plan")
    assert(plan.contains("langidscores") || plan.contains("LangIdScores") ||
      plan.contains("langid_scores"), s"expected the kernel expression in:\n$plan")
    val joined = TextStats.langIdNgramJoined(docs, "text", "doc_id").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(joined.contains("BroadcastHashJoin"), s"twin must broadcast:\n$joined")
    assert(!joined.contains("SortMergeJoin"), s"twin must not sort-merge:\n$joined")
  }

  test("langIdNgram: fused kernel == explode/join/aggregate twin, fixtures AND real corpus") {
    val hand = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "der hund und die katze spielen in dem garten"),
      (3L, "12345 !!! ???"), (4L, ""), (5L, "a"), (6L, "Les enfants! Jouent."),
      (7L, "MiXeD CaSe TeXt WiTh   multiple   spaces and \u00e9\u00fc\u00f1 accents")
    ).toDF("doc_id", "text")
    for (df <- Seq(hand, Tables.documents(spark, "/root/testdata/sf0.001").limit(100))) {
      val a = TextStats.langIdNgram(df, "text", "doc_id")
        .orderBy("doc_id").collect().toSeq
      val b = TextStats.langIdNgramJoined(df, "text", "doc_id")
        .orderBy("doc_id").collect().toSeq
      assert(a.nonEmpty && a == b, s"kernel/twin divergence:\nkernel=${a.take(3)}\ntwin=${b.take(3)}")
    }
  }

  test("langId predicts via stopword hits with tie-break") {
    val docs = Seq((1L, "the cat of the house"), (2L, "der hund und die katze ist"),
      (3L, "zzz qqq")).toDF("doc_id", "text")
    val got = TextStats.langId(docs, "text", "doc_id").orderBy("doc_id")
      .select("predicted_lang").as[String].collect()
    assert(got.toSeq == Seq("en", "de", "unknown"))
  }

  test("VectorMean aggregator matches the posexplode/avg formulation to 1e-9") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(($"vec_id" % 7).as("k"), $"embedding")
    val typed = emb.groupBy($"k")
      .agg(graft.functions.VectorMean.vecMean($"embedding").as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    val declarative = emb
      .select($"k", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"k", $"pos").agg(avg($"v").as("m"))
      .groupBy($"k")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        x => x.getField("m")).as("m"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(typed.keySet == declarative.keySet)
    for (k <- typed.keySet) {
      val diffs = typed(k).zip(declarative(k)).map { case (a, b) => math.abs(a - b) }
      assert(diffs.max < 1e-9, s"key $k diverges by ${diffs.max}")
    }
  }

  test("approx sketches stay within error bounds of exact answers") {
    val d = "/root/testdata/sf0.01"
    // HLL++ default rsd = 5%
    val cd = Tables.orders(spark, d).agg(
      approx_count_distinct($"o_custkey").as("a"),
      countDistinct($"o_custkey").as("e")).head()
    val (a, e) = (cd.getLong(0).toDouble, cd.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.1, s"HLL estimate $a too far from exact $e")
    // approx_percentile with accuracy 10000 ≈ exact at this scale
    val q = Tables.lineitem(spark, d).agg(
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a"),
      expr("percentile(l_extendedprice, 0.5)").as("e")).head()
    assert(math.abs(q.getDouble(0) - q.getDouble(1)) / q.getDouble(1) < 0.01)
  }

  test("IVF ANN: recovers most of brute-force top-k while scanning a fraction") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe_vec"))
    val corpus = emb.filter($"vec_id" =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, probe, "vec_id", "embedding", 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, probe, "vec_id", "embedding",
      k = 10, nLists = 8, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size == 10)
    // nProbe=half the lists → expect decent recall on the top-10
    assert((exact intersect ivf).size >= 5, s"recall too low: $exact vs $ivf")
    // deterministic across runs
    val ivf2 = Similarity.ivfTopK(corpus, probe, "vec_id", "embedding",
      k = 10, nLists = 8, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf == ivf2)
  }

  test("MinHashSignature expression matches the exploded groupBy-min formulation") {
    graft.functions.TextFunctions.register(spark)
    // real data: every document at sf0.001, all 8 seeds
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = Dedup.minhashSignatures(docs, "text", "doc_id", k = 8)
    val exploded = Dedup.minhashSignaturesExploded(docs, "text", "doc_id", k = 8)
    assert(fused.exceptAll(exploded).isEmpty && exploded.exceptAll(fused).isEmpty)
    // edge cases: short doc (single shingle), empty string, exactly w tokens
    val edge = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "one two three"),
      (5L, "a  b\tc   d")).toDF("doc_id", "text")
    val f2 = Dedup.minhashSignatures(edge, "text", "doc_id", k = 4)
    val e2 = Dedup.minhashSignaturesExploded(edge, "text", "doc_id", k = 4)
    assert(f2.exceptAll(e2).isEmpty && e2.exceptAll(f2).isEmpty)
  }

  test("SQL registration: clean_string works; minhash_sigs validates literal w/k") {
    graft.functions.TextFunctions.register(spark)
    Seq(("u'Hello_True'", 1)).toDF("s", "i").createOrReplaceTempView("reg_v")
    val cleaned = spark.sql("SELECT clean_string(s) AS c FROM reg_v").as[String].head()
    assert(cleaned == "Hello_true")
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sigs(array(s), i, 4) FROM reg_v").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("NormalizedFingerprint expression matches the regex chain") {
    graft.functions.TextFunctions.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cmp = docs.select(TextStats.fingerprint($"text").as("fused"),
      TextStats.fingerprintHof($"text").as("chain"))
    assert(cmp.filter($"fused" =!= $"chain").count() == 0)
    val edge = Seq("", "  ", "a .b", "a . b", "A  B!!c", " x ", "Ümläut ø 42", "a\n\tb")
      .toDF("text")
    val cmp2 = edge.select(TextStats.fingerprint($"text").as("fused"),
      TextStats.fingerprintHof($"text").as("chain"))
    assert(cmp2.filter($"fused" =!= $"chain").count() == 0)
  }

  test("hashSplit partitions every row once; deterministic samples nest monotonically") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val split = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.count() == docs.count())
    val byLabel = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > byLabel("val") && byLabel("train") > byLabel("test"))
    // determinism + nesting: the 10% sample is contained in the 50% one
    val s10 = Sampling.deterministicSample(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet
    val s50 = Sampling.deterministicSample(docs, "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s10.nonEmpty && s10.subsetOf(s50))
    assert(Sampling.deterministicSample(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet == s10)
    // stratified: absent strata drop, kept strata obey their own hash
    val strat = Sampling.stratifiedSample(docs, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5))
    val bySrc = strat.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.keySet == Set("src0", "src1") && bySrc("src0") == 25 && bySrc("src1") < 25)
  }

  test("repetitionStats: known duplication ratios") {
    val docs = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "one"))
      .toDF("doc_id", "text")
    val got = TextStats.repetitionStats(docs, "text", "doc_id").orderBy("doc_id")
      .as[(Long, Int, Int, Double, Double)].collect()
    // doc1: 3 bigrams all "a a" → dup 1 - 1/3; every token the same → top 1.0
    assert(got(0) == ((1L, 4, 3, 0.666667, 1.0)))
    // doc2: all bigrams distinct; top word 1/4
    assert(got(1) == ((2L, 4, 3, 0.0, 0.25)))
    // doc3: single token → no bigrams, top ratio 1.0
    assert(got(2) == ((3L, 1, 0, 0.0, 1.0)))
  }

  test("packing: cumulative-token bins per shard") {
    // 6 docs of 3 tokens each; 2 shards; window 4 tokens:
    // shard cum_before 0,3,6 → bins 0,0,1
    val docs = (0L until 6L).map(i => (i, "w w w")).toDF("doc_id", "text")
    val got = Packing.binManifest(docs, "doc_id", "text", windowTokens = 4, nShards = 2)
      .orderBy("shard", "bin").as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 0L, 2L, 6L), (0L, 1L, 1L, 3L),
      (1L, 0L, 2L, 6L), (1L, 1L, 1L, 3L)))
  }

  test("greedy packing: no straddling, budget respected, matches sequential reference") {
    // hand case: shard0 docs of 3 tokens each, window 7 → bins hold 2
    // docs (6 tokens); an oversized doc gets its own bin
    val docs = ((0L until 6L).map(i => (i * 2, "w w w")) :+ (12L, ("w " * 9).trim))
      .toDF("doc_id", "text")
    val got = Packing.assignBinsGreedy(docs, "doc_id", "text", windowTokens = 7, nShards = 1)
      .orderBy("doc_id").as[(Long, Long, Int, Long)].collect()
    assert(got.map(r => r._1 -> r._4).toSeq ==
      Seq(0L -> 0L, 2L -> 0L, 4L -> 1L, 6L -> 1L, 8L -> 2L, 10L -> 2L, 12L -> 3L))
    // real data differential vs a driver-side sequential reference
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val w = 512
    val dist = Packing.assignBinsGreedy(real, "doc_id", "text", w, nShards = 4)
      .orderBy("doc_id").as[(Long, Long, Int, Long)].collect()
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    dist.groupBy(_._2).foreach { case (_, rows) =>
      var bin = 0L; var used = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, _) =>
        if (used > 0 && used + n > w) { bin += 1; used = 0L }
        used += n
        ref(id) = bin
      }
    }
    assert(dist.nonEmpty && dist.forall { case (id, _, _, bin) => ref(id) == bin })
    // budget invariant over the already-collected rows: every
    // multi-doc bin fits the window
    val overfull = dist.groupBy(r => (r._2, r._4)).values
      .count(rows => rows.length > 1 && rows.map(_._3.toLong).sum > w)
    assert(overfull == 0)
  }

  test("scrub: emails and urls replaced with placeholders, counts reported") {
    val docs = Seq((1L, "mail a@b.co or visit https://x.y/z now"), (2L, "clean"))
      .toDF("doc_id", "text")
    val rep = Scrub.piiReport(docs, "text", "doc_id").orderBy("doc_id")
      .as[(Long, Int, Int, Int)].collect()
    assert(rep(0)._2 == 1 && rep(0)._3 == 1)
    assert(rep(1) == ((2L, 0, 0, 5)))
    val scrubbed = docs.filter($"doc_id" === 1)
      .select(Scrub.scrub($"text")).as[String].head()
    assert(scrubbed == "mail <EMAIL> or visit <URL> now")
  }

  test("repetition top-word sorted-run aggregate == count-per-distinct formulation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .union(Seq((9001L, "a a a b", "x", "s", 7L), (9002L, "", "x", "s", 0L),
        (9003L, "solo", "x", "s", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val toked = docs.select($"doc_id", TextStats.tokens($"text").as("toks"))
    // the PRODUCTION expression, not a copy — a regression in
    // maxTokenRunSql must fail here
    val cmp = toked.select($"doc_id",
      expr(TextStats.maxTokenRunSql).as("run_based"),
      TextStats.topWordCountNaive($"toks").as("naive"))
    assert(cmp.filter($"run_based" =!= $"naive").count() == 0)
  }

  test("incrementalNew: batch dups of history drop, novel docs survive") {
    val history = Seq("old text one", "old text two").toDF("text")
      .select(TextStats.fingerprint($"text").as("fp"))
    val batch = Seq(
      (10L, "brand new document"),
      (11L, "old text one"),        // seen in history → drop
      (12L, "brand new document"),  // batch dup → loses to min id 10
      (13L, "Old  Text two!"))      // normalizes to a seen fp → drop
      .toDF("doc_id", "text")
    val got = graft.ext.Dedup.incrementalNew(batch, "text", "doc_id", history)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L))
  }

  test("incrementalNewBloom: row-identical to the plain anti-join, even at a hostile fpp") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = docs.filter($"doc_id" < 100)
      .select(TextStats.fingerprint($"text").as("fp"))
    val batch = docs.filter($"doc_id" >= 100)
      .union(docs.filter($"doc_id" < 20).withColumn("doc_id", $"doc_id" + 1000))
    def rows(df: DataFrame) = df.select("fp", "doc_id").as[(String, Long)].collect().toSet
    val plain = rows(Dedup.incrementalNew(batch, "text", "doc_id", history))
    // default fpp: exact equality (Bloom may pass extra store rows to
    // the anti-join, never skip a true match — output can't differ)
    assert(rows(Dedup.incrementalNewBloom(batch, "text", "doc_id", history)) == plain)
    // near-saturated filter (tiny capacity, high fpp): the gate passes
    // almost everything — correctness must not depend on selectivity
    assert(rows(Dedup.incrementalNewBloom(batch, "text", "doc_id", history,
      expectedItems = 8L, fpp = 0.5)) == plain)
  }

  test("semanticDedup: kept set is maximal-by-min-id — no kept pair above tau, every drop justified") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" =!= 0)
    val tau = 0.30
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      nLists = 4, tau = tau, iters = 2, maxPerList = 10000)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty && keptIds.size < vecs.count())
    // recompute the within-cluster pair similarities independently of
    // the operator's join: kept×kept pairs in one cluster must all sit
    // below tau, and every dropped id must have a smaller-id
    // same-cluster neighbor at or above tau
    val assigned = kept.select($"vec_id", $"list_id")
      .join(vecs, "vec_id")
    val all = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      nLists = 4, tau = 2.0 /* nothing drops */, iters = 2, maxPerList = 10000)
    val clusterOf = all.select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    val vecMap = vecs.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def n(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (n(a) * n(b))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = vecMap.keys.groupBy(clusterOf)
    for ((_, ids) <- byCluster; s = ids.toSeq.sorted) {
      for (i <- s.indices; j <- (i + 1) until s.size) {
        val similar = cos(vecMap(s(i)), vecMap(s(j))) >= tau
        if (keptIds(s(i)) && keptIds(s(j)))
          assert(!similar, s"kept pair ${s(i)},${s(j)} is above tau")
      }
      for (id <- s if !keptIds(id))
        assert(s.filter(_ < id).exists(o => cos(vecMap(o), vecMap(id)) >= tau),
          s"dropped $id has no smaller-id neighbor above tau")
    }
  }

  test("zKey: hand-checked Morton interleave, disjoint bits, mod-2^bits wrap") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65536L + 2L, 0L))
      .toDF("a", "b")
    val got = df.select(graft.ext.Maintenance.zKey($"a", $"b").as("z"))
      .as[Long].collect().toSeq
    // interleave(3=0b11, 5=0b101): a-bits at 0,2 → 0b101; b-bits at
    // 1,5 → 0b100010; OR = 0b100111 = 39
    assert(got == Seq(0L, 1L, 2L, 39L, 4L /* 65538 wraps to a=2 → z bit 2 */))
  }

  test("zorderWrite: file bounding boxes prune BOTH dims; lexicographic sort can't prune the second") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val n = 64L
    val grid = spark.range(n * n)
      .select((col("id") % n).as("a"), (col("id") / n).cast("long").as("b"))
    graft.ext.Maintenance.zorderWrite(grid, "a", "b", dir + "/z", nFiles = 16, bits = 6)
    grid.repartitionByRange(16, $"a", $"b").sortWithinPartitions("a", "b")
      .write.mode("overwrite").parquet(dir + "/lex")
    def avgSpan(path: String, c: String): Double = {
      val s = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("span"))
        .select("span").as[Long].collect()
      s.sum.toDouble / s.length
    }
    // z-order: every file is a compact rectangle — BOTH per-file spans
    // sit far below the 63-wide domain (ideal 16×16 blocks span 15;
    // unaligned range boundaries can straddle quadrants, hence the
    // generous 32 bound on the average)
    assert(avgSpan(dir + "/z", "a") <= 32.0, s"zorder a-span ${avgSpan(dir + "/z", "a")}")
    assert(avgSpan(dir + "/z", "b") <= 32.0, s"zorder b-span ${avgSpan(dir + "/z", "b")}")
    // lexicographic: tight on the leading column, but every file spans
    // essentially ALL of b — a predicate on b alone skips nothing
    assert(avgSpan(dir + "/lex", "b") >= 50.0, s"lex b-span ${avgSpan(dir + "/lex", "b")}")
    // same rows either way
    assert(spark.read.parquet(dir + "/z").count() == n * n)
  }

  test("capPerStratum: per-source cap enforced, selection deterministic and hash-ordered") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val capped = Sampling.capPerStratum(docs, "doc_id", "source", maxRows = 10)
    val bySrc = capped.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.values.forall(_ == 10) && bySrc.size == 20) // 25 docs/source at sf0.01
    // deterministic across runs
    val ids1 = capped.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.capPerStratum(docs, "doc_id", "source", maxRows = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // a cap above the stratum size keeps everything
    assert(Sampling.capPerStratum(docs, "doc_id", "source", 1000).count() == docs.count())
  }

  test("rarityStats: per-doc mins and means reflect corpus token frequencies") {
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextStats.rarityStats(docs, "text", "doc_id").orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    // vocab: a->2, b->1, c->1
    assert(got.toSeq == Seq((1L, 2L, 1L, 1.5), (2L, 2L, 1L, 1.5)))
  }

  test("stripBoilerplate drops cross-doc repeated lines and preserves order") {
    val docs = Seq(
      (1L, "unique one. SHARED. tail one"),
      (2L, "another bit. SHARED. more"),
      (3L, "third text. SHARED. end")).toDF("doc_id", "text")
    val got = TextStats.stripBoilerplate(docs, "text", "doc_id", maxDocFreq = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(got.toSeq == Seq(
      (1L, "unique one. tail one", 2L),
      (2L, "another bit. more", 2L),
      (3L, "third text. end", 2L)))
    // a doc that is ALL boilerplate drops out entirely
    val all = docs.union(Seq((4L, "SHARED")).toDF("doc_id", "text"))
    val ids = TextStats.stripBoilerplate(all, "text", "doc_id", maxDocFreq = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L))
  }

  test("chunkByTokens: overlap, tail handling, short docs emit one chunk") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8"), (2L, "a b"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val got = TextStats.chunkByTokens(docs, "text", "doc_id", windowTokens = 4, stride = 2)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Int, String, Int)].collect()
    assert(got.toSeq == Seq(
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t3 t4 t5 t6", 4), (1L, 2, "t5 t6 t7 t8", 4),
      (2L, 0, "a b", 2),
      (3L, 0, "x y z w", 4)))
    // full coverage: every token of every doc appears in some chunk
    val n8 = docs.filter($"doc_id" === 1)
    val covered = TextStats.chunkByTokens(n8, "text", "doc_id", 3, 3)
      .agg(sum($"chunk_tokens")).as[Long].head()
    assert(covered == 8) // non-overlapping stride=window partitions exactly
  }

  test("quantizeStats: int8 range, half-scale error bound, zero vector safe") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .union(Seq((9999L, Seq.fill(8)(0f))).toDF("vec_id", "embedding"))
    val got = Similarity.quantizeStats(emb, "vec_id", "embedding")
    val rows = got.as[(Long, Double, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, _, minQ, maxQ, maxErr) =>
      assert(minQ >= -127 && maxQ <= 127, s"vec $id out of int8 range")
      // reconstruction error of round-to-nearest is at most scale/2
      // (+ rounding-to-6-decimals slack)
      assert(maxErr <= scale / 2 + 1e-6, s"vec $id err $maxErr > scale/2 $scale")
      if (id == 9999L) assert(scale == 0.0 && maxErr == 0.0 && minQ == 0 && maxQ == 0)
    }
  }

  test("export: sharded JSONL round-trips, shard layout deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text", $"source")
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    graft.ext.Export.writeJsonlShards(docs, "doc_id", dir, nShards = 4)
    val back = spark.read.json(dir)
    assert(back.count() == docs.count())
    // shard dirs exist and assignment matches the hash formula
    val shards = back.select($"shard").distinct().as[Long].collect().toSet
    assert(shards.subsetOf(Set(0L, 1L, 2L, 3L)) && shards.size > 1)
    val mismatch = back.withColumn("expect",
      graft.ext.Export.shardOf($"doc_id", 4).cast("long"))
      .filter($"shard" =!= $"expect").count()
    assert(mismatch == 0)
    // re-export lands every row in the same shard (determinism)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_export2").toString
    graft.ext.Export.writeJsonlShards(docs, "doc_id", dir2, nShards = 4)
    val a = spark.read.json(dir).select("doc_id", "shard")
    val b = spark.read.json(dir2).select("doc_id", "shard")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // manifest covers all rows
    val m = graft.ext.Export.manifest(spark, dir)
      .as[(Long, Long)].collect()
    assert(m.map(_._2).sum == docs.count())
  }

  test("multimodal: ingest schema + stub feature extraction shape") {
    val docs = Seq((1L, "abc", "s1"), (2L, "defgh", "s2")).toDF("doc_id", "text", "source")
    val media = Multimodal.ingest(docs, "doc_id", "text", "source")
    val stats = Multimodal.byteStats(media).orderBy("source")
      .as[(String, Long, Long, Long)].collect()
    assert(stats.toSeq == Seq(("s1", 1L, 3L, 3L), ("s2", 1L, 5L, 5L)))
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(feats.length == 2)
    assert(feats(0).getSeq[Float](1).head == 3f) // n bytes as first stub feature
  }

  test("multimodal resize + frame sampling: size contract and 1:N fan-out") {
    val docs = Seq((1L, "x" * 100, "s"), (2L, "y" * 10, "s"), (3L, null.asInstanceOf[String], "s"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.ingest(docs, "doc_id", "text", "source")
    val resized = Multimodal.resize(media, 40)
    val sizes = resized.select($"media_id", length($"payload"))
      .as[(Long, Option[Int])].collect().toMap
    assert(sizes(1L).contains(40) && sizes(2L).contains(40) && sizes(3L).isEmpty)
    // frames of 16 bytes, stride 2 → offsets 0, 32 → 2 full-or-partial
    // frames from 40 bytes; null payloads contribute no rows
    val frames = Multimodal.frameSample(resized, frameBytes = 16, stride = 2)
    val byId = frames.groupBy($"media_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(byId == Map(1L -> 2L, 2L -> 2L))
    val f = frames.filter($"media_id" === 1 && $"frame_no" === 1)
      .select(length($"frame")).as[Int].head()
    assert(f == 8) // second frame starts at 32 of 40 → 8 bytes
  }

  test("ivfAppend: appended vectors serve from the index without retraining") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe_vec"))
    val corpus = emb.filter($"vec_id" =!= 0)
    val half1 = corpus.filter($"vec_id" % 2 === 1)
    val half2 = corpus.filter($"vec_id" % 2 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString + "/idx"
    val cents = Similarity.ivfWriteIndex(half1, "vec_id", "embedding", idx, nLists = 4)
    Similarity.ivfAppend(half2, "vec_id", "embedding", idx, cents)
    val got = Similarity.ivfTopKIndexed(spark, idx, cents, probe,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    // independent reference: assign every corpus vector driver-side
    // with the same centroids (probeNearestLists with nProbe=1 IS the
    // assignment rule), restrict to the probe's lists, brute-force rank
    val pv = probe.head().getSeq[Float](0).map(_.toDouble).toArray
    val lists = Similarity.probeNearestLists(pv, cents, 2)
    val inLists = corpus.select($"vec_id", $"embedding").collect().filter { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      lists.contains(Similarity.probeNearestLists(v, cents, 1).head)
    }.map(_.getLong(0)).toSet
    val want = Similarity.bruteForceTopK(
      corpus.filter($"vec_id".isInCollection(inLists)), probe,
      "vec_id", "embedding", 5)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == want)
    // both halves are physically present in the index
    assert(spark.read.parquet(idx).count() == corpus.count())
    // at-least-once ingest: replaying the same append with the id
    // guard is a no-op (without it, blind mode("append") would
    // duplicate every id in later top-k results)
    Similarity.ivfAppend(half2, "vec_id", "embedding", idx, cents, guardIds = true)
    assert(spark.read.parquet(idx).count() == corpus.count())
    // a mixed batch (replayed + new ids) passes only the new ids:
    // guard-appending the FULL corpus onto a half1-only index adds
    // exactly the half2 rows
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ivf_append2").toString + "/idx"
    val cents2 = Similarity.ivfWriteIndex(half1, "vec_id", "embedding", idx2, nLists = 4)
    Similarity.ivfAppend(corpus, "vec_id", "embedding", idx2, cents2, guardIds = true)
    assert(spark.read.parquet(idx2).count() == corpus.count())
    assert(spark.read.parquet(idx2).select("vec_id").distinct().count() == corpus.count())
  }

  test("ivfAppend: crossing maxFilesPerList compacts to one file per list, serve unchanged") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe_vec"))
    val corpus = emb.filter($"vec_id" =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString + "/idx"
    val cents = Similarity.ivfWriteIndex(corpus.filter($"vec_id" <= 10),
      "vec_id", "embedding", idx, nLists = 2)
    // drip-feed appends one id at a time: each append adds one file to
    // the id's list dir, so file counts grow without bound until the
    // threshold trips
    val ids = corpus.filter($"vec_id" > 10).select($"vec_id")
      .as[Long].collect().sorted.take(6)
    val afterCounts = ids.map { id =>
      Similarity.ivfAppend(corpus.filter($"vec_id" === id), "vec_id", "embedding",
        idx, cents, maxFilesPerList = 3)
      Similarity.indexMaxFilesPerList(spark, idx)
    }
    // the post-append invariant: a list never ends a call above the
    // threshold — either it stayed under, or compaction reset it
    assert(afterCounts.forall(_ <= 3), s"threshold breached: $afterCounts")
    // 6 single-id appends into 2 lists put >= 3 extra files on some
    // list (pigeonhole), so compaction MUST have tripped at least
    // once — observable as a post-append max of exactly 1 (an append
    // always leaves >= 2 files on the touched list otherwise)
    assert(afterCounts.contains(1), s"compaction never tripped: $afterCounts")
    // compaction changed layout only: same rows, same serve results as
    // an uncompacted control index built from the identical sequence
    val ctl = java.nio.file.Files.createTempDirectory("graft_ivf_compact_ctl").toString + "/idx"
    Similarity.ivfWriteIndex(corpus.filter($"vec_id" <= 10), "vec_id", "embedding", ctl,
      nLists = 2)
    ids.foreach { id =>
      Similarity.ivfAppend(corpus.filter($"vec_id" === id), "vec_id", "embedding",
        ctl, cents, maxFilesPerList = Int.MaxValue)
    }
    assert(spark.read.parquet(idx).count() == spark.read.parquet(ctl).count())
    val gotC = Similarity.ivfTopKIndexed(spark, idx, cents, probe,
      "vec_id", "embedding", k = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
    val wantC = Similarity.ivfTopKIndexed(spark, ctl, cents, probe,
      "vec_id", "embedding", k = 5, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(gotC.nonEmpty && gotC == wantC)
    // no swap debris
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx + "__old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx + "__upsert_tmp")))
  }

  test("ivfRetrainSwap: retrained index equals full-corpus training; rows survive the swap") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe_vec"))
    val corpus = emb.filter($"vec_id" =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_retrain").toString + "/idx"
    // stale state: trained on odd ids only, evens appended under
    // stale-centroid list assignments
    val stale = Similarity.ivfWriteIndex(corpus.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", idx, nLists = 4)
    Similarity.ivfAppend(corpus.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", idx, stale)
    val fresh = Similarity.ivfRetrainSwap(spark, idx, "vec_id", "embedding", nLists = 4)
    // training on the index contents == training on the corpus (init
    // orders by id; Lloyd updates are order-free)
    val direct = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nLists = 4)
    assert(fresh.map(_.toSeq) == direct.map(_.toSeq))
    // every row survived; the layout is the retrained assignment
    assert(spark.read.parquet(idx).count() == corpus.count())
    val served = Similarity.ivfTopKIndexed(spark, idx, fresh, probe,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val want = Similarity.ivfTopK(corpus, probe, "vec_id", "embedding",
      k = 5, nLists = 4, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(served.nonEmpty && served == want)
    // no swap debris left behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx + "__old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx + "__upsert_tmp")))
  }

  test("compaction: small files merge, data survives exactly, partition grain preserved") {
    import graft.ext.Maintenance
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // unpartitioned: 20 tiny files → 1
    val df = spark.range(1000).select($"id", ($"id" % 7).as("v"))
    df.repartition(20).write.parquet(s"$base/t1")
    val s1 = Maintenance.compact(spark, s"$base/t1")
    assert(s1.filesBefore == 20 && s1.filesAfter == 1)
    assert(spark.read.parquet(s"$base/t1").orderBy("id").as[(Long, Long)].collect().toSeq ==
      (0L until 1000L).map(i => (i, i % 7)))
    // partitioned: many files per month dir → one per dir, layout kept
    df.withColumn("month", ($"id" % 3).cast("int"))
      .repartition(8).write.partitionBy("month").parquet(s"$base/t2")
    val s2 = Maintenance.compactPartitioned(spark, s"$base/t2", Seq("month"))
    assert(s2.filesBefore > 3 && s2.filesAfter == 3, s"got $s2")
    val back = spark.read.parquet(s"$base/t2")
    assert(back.count() == 1000 && back.select("month").distinct().count() == 3)
  }

  test("two-phase stratum caps equal single-phase exactly; hot stratum prefilters to a bounded window") {
    import graft.ext.Sampling
    // one hot stratum (20k rows) next to a tiny one — the shape that
    // serializes the single-phase window onto one task
    val df = spark.range(20000).select($"id".as("doc_id"), lit("hot").as("source"))
      .union(spark.range(20000, 20020).select($"id".as("doc_id"), lit("cold").as("source")))
      .union(spark.range(20020, 20030).select($"id".as("doc_id"), lit("ghost").as("source")))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.select($"doc_id", $"source", $"cap_rank").as[(Long, String, Int)]
        .collect().toSeq.sorted
    val single = rows(Sampling.capPerStratum(df, "doc_id", "source", maxRows = 25))
    val two = rows(Sampling.capPerStratumTwoPhase(df, "doc_id", "source",
      maxRows = 25, nBuckets = 256))
    assert(two == single && two.nonEmpty)
    // cold (< maxRows rows) keeps everything in both forms
    assert(two.count(_._2 == "cold") == 20)
    // the phase-1 threshold really bounds the window input: the hot
    // stratum's survivors are ~maxRows + one bucket, nowhere near 20k
    val thr = Sampling.stratumBucketThresholds(df, "doc_id", "source",
      lit(1L), lit(25L), 256)
    val hotThr = thr.filter($"source" === "hot").select("__thr").as[Int].head()
    val surviving = df.filter($"source" === "hot")
      .filter(floor(Sampling.hashFraction($"doc_id") * 256).cast("int") <= hotThr)
      .count()
    assert(surviving < 1000, s"prefilter kept $surviving of 20000 hot rows")
    // token variant: varying weights, zero-token rows, and a stratum
    // absent from the budgets (dropped by both forms)
    val toks = df.withColumn("n_tokens", ($"doc_id" % 13).cast("int"))
    def trows(x: org.apache.spark.sql.DataFrame) =
      x.select($"doc_id", $"source", $"n_tokens", $"cum_tokens")
        .as[(Long, String, Int, Long)].collect().toSeq.sorted
    val budgets = Map("hot" -> 500L, "cold" -> 40L)
    val tSingle = trows(Sampling.capTokensPerStratum(toks, "doc_id", "source",
      "n_tokens", budgets))
    val tTwo = trows(Sampling.capTokensPerStratumTwoPhase(toks, "doc_id", "source",
      "n_tokens", budgets, nBuckets = 256))
    assert(tTwo == tSingle && tTwo.nonEmpty)
    assert(!tTwo.exists(_._2 == "ghost"))
  }

  test("adaptive stratum cap: single-phase on uniform strata, two-phase on a hot one, outputs identical") {
    import graft.ext.Sampling
    // uniform fixture: 8 strata × 100 rows, maxRows 25 → no stratum
    // beyond hotFactor × maxRows (8 × 25 = 200) — the histogram pass
    // would cost more than it saves
    val uniform = spark.range(800).select($"id".as("doc_id"),
      concat(lit("s"), ($"id" % 8)).as("source"))
    assert(!Sampling.stratumCapNeedsTwoPhase(uniform, "source", maxRows = 25))
    // hot fixture: one 20k-row stratum → the exact window would
    // serialize it onto one task; the chooser must flip
    val hot = spark.range(20000).select($"id".as("doc_id"), lit("hot").as("source"))
      .union(spark.range(20000, 20020).select($"id".as("doc_id"), lit("cold").as("source")))
    assert(Sampling.stratumCapNeedsTwoPhase(hot, "source", maxRows = 25))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.select($"doc_id", $"source", $"cap_rank").as[(Long, String, Int)]
        .collect().toSeq.sorted
    // identical outputs on BOTH fixtures, whichever branch runs
    for (df <- Seq(uniform, hot)) {
      val want = rows(Sampling.capPerStratum(df, "doc_id", "source", maxRows = 25))
      val got = rows(Sampling.capPerStratumAdaptive(df, "doc_id", "source",
        maxRows = 25, nBuckets = 256))
      assert(got == want && got.nonEmpty)
    }
    // the choice is visible in the plan: only the hot branch carries
    // the phase-1 threshold join (__thr); the uniform branch is the
    // plain window
    val uniformPlan = Sampling.capPerStratumAdaptive(uniform, "doc_id", "source", 25)
      .queryExecution.analyzed.toString
    val hotPlan = Sampling.capPerStratumAdaptive(hot, "doc_id", "source", 25)
      .queryExecution.analyzed.toString
    assert(!uniformPlan.contains("__thr") && hotPlan.contains("__thr"))
    // empty input: no strata → never "hot", single-phase, empty result
    val empty = uniform.filter(lit(false))
    assert(!Sampling.stratumCapNeedsTwoPhase(empty, "source", maxRows = 25))
    assert(Sampling.capPerStratumAdaptive(empty, "doc_id", "source", 25).count() == 0)
  }

  test("bucketed compaction: one file per bucket, layout contract survives, crash windows recover") {
    import graft.ext.Maintenance
    import graft.operators.Bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val df = spark.range(2000).select($"id".as("k"), ($"id" % 97).as("v"))
      // fragmented write: 10 tasks × up-to-4 buckets each → many files
      df.repartition(10).write.format("parquet").bucketBy(4, "k").sortBy("k")
        .mode("overwrite").saveAsTable("bc_t")
      Bucketing.saveBucketed(df.select($"k", ($"v" * 2).as("w")), "bc_dim", "k", 4)
      val s = Maintenance.compactBucketed(spark, "bc_t")
      assert(s.filesBefore > 4 && s.filesAfter == 4, s"got $s")
      // data intact
      assert(spark.table("bc_t").orderBy("k").as[(Long, Long)].collect().toSeq ==
        (0L until 2000L).map(i => (i, i % 97)))
      // the layout CONTRACT survives: a co-located join still plans
      // with zero exchanges after compaction
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.colocatedJoin(spark, "bc_t", "bc_dim", "k")
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("Exchange"), s"expected shuffle-free join after compaction:\n$plan")
      assert(joined.count() == 2000)
      // crash window 1: tmp beside live → recovery drops tmp, keeps live
      spark.table("bc_t").limit(1).write.format("parquet").bucketBy(4, "k")
        .mode("overwrite").saveAsTable("bc_t__compact_tmp")
      Maintenance.recoverBucketedCompact(spark, "bc_t")
      assert(spark.catalog.tableExists("bc_t") &&
        !spark.catalog.tableExists("bc_t__compact_tmp"))
      assert(spark.table("bc_t").count() == 2000)
      // crash window 2: live dropped, tmp complete → recovery renames
      spark.sql("ALTER TABLE bc_t RENAME TO bc_t__compact_tmp")
      Maintenance.recoverBucketedCompact(spark, "bc_t")
      assert(spark.catalog.tableExists("bc_t") && spark.table("bc_t").count() == 2000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bc_t")
      spark.sql("DROP TABLE IF EXISTS bc_dim")
      spark.sql("DROP TABLE IF EXISTS bc_t__compact_tmp")
    }
  }

  test("vacuum: swap leftovers and write artifacts go, live data and in-horizon files stay") {
    import graft.ext.Maintenance
    val base = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    val t = s"$base/t"
    spark.range(100).select($"id", ($"id" % 5).as("v")).write.parquet(t)
    val live = spark.read.parquet(t).orderBy("id").as[(Long, Long)].collect().toSeq
    // simulate a crashed rewrite + crashed task: sibling __old and
    // __upsert_tmp dirs, an in-table _temporary tree, a .staging file
    def mkJunk(): Unit = {
      for (d <- Seq(s"${t}__old", s"${t}__upsert_tmp", s"$t/_temporary/0"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$t/_temporary/0/part-x.parquet"), "junk")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$t/.staging-abc"), "junk")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${t}__old/part-y.parquet"), "junk")
    }
    mkJunk()
    // a week-long horizon keeps everything (just-written junk is
    // inside the horizon — the in-flight-write protection)
    val kept = Maintenance.vacuum(spark, t)
    assert(kept.filesDeleted == 0 && kept.deleted.isEmpty)
    // dry run with zero horizon reports but deletes nothing
    Thread.sleep(20)
    val dry = Maintenance.vacuum(spark, t, horizonMs = 0, dryRun = true)
    assert(dry.filesDeleted >= 3 && dry.dryRun)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${t}__old")))
    // real vacuum: all junk goes, live rows untouched
    val got = Maintenance.vacuum(spark, t, horizonMs = 0)
    assert(got.filesDeleted == dry.filesDeleted && got.bytesReclaimed > 0)
    for (d <- Seq(s"${t}__old", s"${t}__upsert_tmp", s"$t/_temporary", s"$t/.staging-abc"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)), s"$d survived")
    assert(spark.read.parquet(t).orderBy("id").as[(Long, Long)].collect().toSeq == live)
    // idempotent: a second pass finds nothing
    assert(Maintenance.vacuum(spark, t, horizonMs = 0).filesDeleted == 0)
    // _SUCCESS markers survive even at zero horizon
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$t/_SUCCESS")))
    // a missing live dir means __old IS the table: vacuum refuses
    // (recovery owns that window) instead of deleting the only copy
    mkJunk()
    val t2 = s"$base/t2"
    java.nio.file.Files.move(java.nio.file.Paths.get(t), java.nio.file.Paths.get(t2))
    intercept[IllegalArgumentException] {
      Maintenance.vacuum(spark, t, horizonMs = 0)
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${t}__old")))
  }

  test("BMP codec: round-trip identity, padding geometry, loud rejection, resize mapping") {
    import graft.ext.Codecs
    // width 5 → 15-byte rows padded to 16: the stride case
    val rgb = Array.tabulate(5 * 4 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val img = Codecs.Image(5, 4, rgb)
    val bytes = Codecs.encodeBmp(img)
    assert(bytes.length == 54 + 16 * 4)
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    val back = Codecs.decodeBmp(bytes)
    assert(back.width == 5 && back.height == 4 && back.rgb.toSeq == rgb.toSeq)
    // malformed inputs fail loudly, never decode to garbage
    intercept[IllegalArgumentException] { Codecs.decodeBmp("not a bitmap at all".getBytes) }
    intercept[IllegalArgumentException] { Codecs.decodeBmp(bytes.take(40)) }
    val wrongBpp = bytes.clone(); wrongBpp(28) = 8
    intercept[IllegalArgumentException] { Codecs.decodeBmp(wrongBpp) }
    // nearest-neighbor 2×2 → 4×4: each source pixel becomes a 2×2 block
    val tiny = Codecs.Image(2, 2, Array.tabulate(12)(i => (i * 10).toByte))
    val up = Codecs.resizeNearest(tiny, 4, 4)
    def px(im: Codecs.Image, x: Int, y: Int) =
      (0 until 3).map(c => im.rgb((y * im.width + x) * 3 + c))
    assert(px(up, 0, 0) == px(tiny, 0, 0) && px(up, 1, 1) == px(tiny, 0, 0))
    assert(px(up, 2, 0) == px(tiny, 1, 0) && px(up, 3, 3) == px(tiny, 1, 1))
  }

  test("PNG codec: lossless round-trip through ImageIO, loud rejection of corrupt input") {
    import graft.ext.Codecs
    val rgb = Array.tabulate(11 * 5 * 3)(i => ((i * 53 + 7) % 256).toByte)
    val img = Codecs.Image(11, 5, rgb)
    val bytes = Codecs.encodePng(img)
    // a real PNG: signature + IHDR immediately after
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
    assert(new String(bytes.slice(12, 16), "US-ASCII") == "IHDR")
    // lossless: decoded pixels equal the input bit-exactly
    val back = Codecs.decodePng(bytes)
    assert(back.width == 11 && back.height == 5 && back.rgb.toSeq == rgb.toSeq)
    // rejection tier 1: wrong/missing signature (a BMP, arbitrary text)
    intercept[IllegalArgumentException] { Codecs.decodePng("definitely not a png".getBytes) }
    intercept[IllegalArgumentException] {
      Codecs.decodePng(Codecs.encodeBmp(Codecs.Image(2, 2, new Array[Byte](12))))
    }
    // rejection tier 2: valid signature, garbage stream — must error,
    // never hand back garbage pixels
    val corrupt = bytes.take(8) ++ Array.fill[Byte](64)(0x5a)
    intercept[Exception] { Codecs.decodePng(corrupt) }
    // rejection tier 3: truncated mid-IDAT
    intercept[Exception] { Codecs.decodePng(bytes.dropRight(bytes.length / 2)) }
  }

  test("GIF codec: lossless multi-frame round-trip, loud rejection of corrupt input") {
    import graft.ext.Codecs
    // 4 frames, 9x6, full gray range exercised
    val frames = (0 until 4).map(f =>
      Array.tabulate(9 * 6)(i => ((f * 61 + i * 5) % 256).toByte))
    val bytes = Codecs.encodeGifFrames(Codecs.Frames(9, 6, frames))
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"))
    val back = Codecs.decodeGifFrames(bytes)
    assert(back.width == 9 && back.height == 6 && back.frames.length == 4)
    // lossless through the identity gray palette: every frame bit-exact
    (back.frames zip frames).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
    // one frame round-trips too
    val one = Codecs.decodeGifFrames(
      Codecs.encodeGifFrames(Codecs.Frames(3, 2, Seq(Array[Byte](0, 127, -1, 5, 9, 13)))))
    assert(one.frames.length == 1 && one.frames.head.toSeq == Seq[Byte](0, 127, -1, 5, 9, 13))
    // rejection: wrong signature; valid signature with garbage body
    intercept[IllegalArgumentException] { Codecs.decodeGifFrames("not a gif at all".getBytes) }
    intercept[Exception] {
      Codecs.decodeGifFrames("GIF89a".getBytes ++ Array.fill[Byte](40)(0x11))
    }
    // truncated mid-stream
    intercept[Exception] { Codecs.decodeGifFrames(bytes.take(bytes.length / 2)) }
  }

  test("WAV codec: round-trip identity, unknown-chunk skipping, loud rejection") {
    import graft.ext.Codecs
    val samples = Array.tabulate(333)(j => ((j * 91) % 65536 - 32768).toShort)
    val bytes = Codecs.encodeWav(Codecs.Audio(8000, samples))
    assert(bytes.length == 44 + 666)
    val back = Codecs.decodeWav(bytes)
    assert(back.sampleRate == 8000 && back.samples.toSeq == samples.toSeq)
    // a conformant reader skips unknown chunks (LIST/INFO metadata):
    // splice one between fmt and data
    val junk = Array[Byte]('L', 'I', 'S', 'T', 4, 0, 0, 0, 1, 2, 3, 4)
    val spliced = bytes.take(36) ++ junk ++ bytes.drop(36)
    val viaChunks = Codecs.decodeWav(spliced)
    assert(viaChunks.samples.toSeq == samples.toSeq)
    intercept[IllegalArgumentException] { Codecs.decodeWav("RIFFnope".getBytes) }
    val stereo = bytes.clone(); stereo(22) = 2
    intercept[IllegalArgumentException] { Codecs.decodeWav(stereo) }
  }

  test("synthesized media decode through the real codecs with the documented geometry") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    val bmp = Multimodal.synthesizeBmp(docs, "doc_id")
    val feats = Multimodal.imageFeatures(bmp).orderBy("media_id").collect()
    assert(feats.length == 20)
    assert(feats.forall(r => r.getInt(1) == 13 && r.getInt(2) == 7 && r.getInt(3) == 334))
    val wav = Multimodal.synthesizeWav(docs, "doc_id")
    val af = Multimodal.audioFeatures(wav).orderBy("media_id").collect()
    assert(af.forall(r => r.getInt(1) == 8000 &&
      r.getInt(2) == Multimodal.wavSampleCount(r.getLong(0)) &&
      r.getInt(6) <= 2048))
    // PNG tier: decoded geometry matches, and one image's channel mean
    // equals the synthesis formula recomputed here (lossless proof)
    val png = Multimodal.synthesizePng(docs, "doc_id")
    val pf = Multimodal.pngFeatures(png).orderBy("media_id").collect()
    assert(pf.length == 20)
    assert(pf.forall(r => r.getInt(1) == 11 && r.getInt(2) == 5))
    val id0 = pf.head.getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val wantMeanR = (0 until 55).map { i =>
      md.reset(); md.update(s"png:$id0:$i".getBytes("US-ASCII"))
      md.digest()(0) & 0xff
    }.sum.toDouble / 55.0
    assert(math.abs(pf.head.getDouble(6) - wantMeanR) < 1e-9)
    // GIF tier: clip fan-out is 1:n_frames with the documented count,
    // and one frame's mean equals the synthesis formula (lossless)
    val gif = Multimodal.synthesizeGif(docs, "doc_id")
    val gf = Multimodal.gifFrameFeatures(gif).orderBy("media_id", "frame_no").collect()
    val byClip = gf.groupBy(_.getLong(0))
    assert(byClip.size == 20)
    assert(byClip.forall { case (id, rows) =>
      rows.length == Multimodal.gifFrameCount(id) &&
        rows.forall(r => r.getInt(2) == rows.length && r.getInt(3) == 8 && r.getInt(4) == 5)
    })
    val gRow = gf.head
    val wantMeanG = (0 until 40).map { i =>
      md.reset()
      md.update(s"gif:${gRow.getLong(0)}:${gRow.getInt(1)}:$i".getBytes("US-ASCII"))
      md.digest()(0) & 0xff
    }.sum.toDouble / 40.0
    assert(math.abs(gRow.getDouble(7) - wantMeanG) < 1e-9)
    // resonator bank: bit-exact against an independent replica of the
    // recurrence over the synthesis formula (not the decode path)
    val res = Multimodal.audioResonatorFeatures(wav).orderBy("media_id").collect()
    assert(res.length == 20)
    res.take(3).foreach { r =>
      val id = r.getLong(0)
      val n = Multimodal.wavSampleCount(id)
      assert(r.getInt(1) == n)
      Multimodal.ResonatorCoeffs.zipWithIndex.foreach { case (c, ci) =>
        var s1 = 0.0; var s2 = 0.0
        (0 until n).foreach { j =>
          val x = Multimodal.wavSample(id, j) / 2048.0
          val nx = x + c * s1 - s2
          s2 = s1; s1 = nx
        }
        assert(r.getDouble(2 + ci) == s1 * s1 + s2 * s2 - c * s1 * s2,
          s"resonator p$ci mismatch for id=$id")
      }
    }
  }

  test("multimodal built-in resize/frameSample match the UDF codec-seam forms") {
    // odd lengths, exact-multiple lengths, empty and null payloads
    val docs = Seq((1L, "a" * 100, "s"), (2L, "b" * 64, "s"), (3L, "c", "s"),
      (4L, "", "s"), (5L, null.asInstanceOf[String], "s"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.ingest(docs, "doc_id", "text", "source")
    def canon(df: DataFrame) = df.select($"media_id", md5($"payload").as("p"),
      $"meta.n_bytes".as("nb")).orderBy("media_id").collect().toSeq
    assert(canon(Multimodal.resize(media, 40)) == canon(Multimodal.resizeUdf(media, 40)))
    def canonF(df: DataFrame) = df.select($"media_id", $"frame_no", md5($"frame"))
      .orderBy("media_id", "frame_no").collect().toSeq
    val r = Multimodal.resize(media, 40)
    assert(canonF(Multimodal.frameSample(r, 16, 2)) ==
      canonF(Multimodal.frameSampleUdf(r, 16, 2)))
    // empty (non-null) payload: no frames from either form
    assert(Multimodal.frameSample(media.filter($"media_id" === 4), 16, 2).isEmpty)
  }

  test("lmScore: add-one bigram smoothing, hand-computed; unseen counted") {
    // train = doc 1 only ("a b a"): bigrams (<s>,a),(a,b),(b,a);
    // contexts <s>:1 a:1 b:1; vocab {a,b} → V+1 = 3
    val docs = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextStats.lmScore(docs, "text", "doc_id", $"doc_id" === 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Double)].collect()
    // doc 2: p(<s>,a)=(1+1)/(1+3)=.5, p(a,b)=(1+1)/(1+3)=.5,
    //        p(b,c)=(0+1)/(1+3)=.25 → one unseen bigram
    val nll2 = -(math.log(0.5) + math.log(0.5) + math.log(0.25)) / 3
    assert(got(1) == (2L, 3L, 1L,
      BigDecimal(nll2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(math.exp(nll2)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // doc 1 is in-train: every bigram seen, nll strictly lower
    assert(got(0)._3 == 0L && got(0)._4 < got(1)._4)
  }

  test("bpeTrain: freq-weighted argmax, early stop when no pair remains") {
    // words: aa x3, ab x2 → round 1 learns (a,a) count 3; after the
    // merge only ab still pairs → round 2 learns (a,b) count 2; then
    // nothing remains and training stops short of nMerges=5
    val docs = Seq("aa ab aa", "ab aa").toDF("text")
    val got = TextStats.bpeTrain(docs, "text", nMerges = 5)
      .as[(Int, String, String, Long)].collect()
    assert(got.toSeq == Seq((1, "a", "a", 3L), (2, "a", "b", 2L)))
  }

  test("bpeTrain: overlapping pairs count every position; greedy leaves the tail") {
    // "aaa": (a,a) counts positions 1 AND 2; greedy application takes
    // the left one → [aa, a] → round 2 learns (aa, a)
    val docs = Seq("aaa").toDF("text")
    val got = TextStats.bpeTrain(docs, "text", nMerges = 2)
      .as[(Int, String, String, Long)].collect()
    assert(got.toSeq == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bm25: hand-computed scores; tf and length normalization behave") {
    // corpus: 3 docs, query = {x}. df(x)=2, N=3, avgdl=(2+4+2)/3
    // doc 1: tf=1 dl=2; doc 2: tf=2 dl=4; doc 3: no hit → absent
    val docs = Seq((1L, "x y"), (2L, "x x y y"), (3L, "y z")).toDF("doc_id", "text")
    val got = TextStats.bm25(docs, "text", "doc_id", Seq("x"), topK = 10)
      .as[(Long, Long, Double)].collect()
    val idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    val avgdl = 8.0 / 3
    def s(tf: Long, dl: Long) =
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((2L, 1L, s(2, 4)), (1L, 1L, s(1, 2))))
    // higher tf at equal dl must outscore (score 2 ranked first above)
    assert(got(0)._3 > got(1)._3)
  }

  test("bm25: multi-term scores sum per matched term; rarer term weighs more") {
    // q={a,b}: df(a)=3 (every doc), df(b)=1 — doc 30's b-hit must
    // outweigh a same-tf a-hit (idf(b) > idf(a))
    val docs = Seq((10L, "a c"), (20L, "a c"), (30L, "a b")).toDF("doc_id", "text")
    val got = TextStats.bm25(docs, "text", "doc_id", Seq("a", "b"), topK = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.head._1 == 30L && got.head._2 == 2L) // both terms matched
    assert(got.map(_._1).toSeq == Seq(30L, 10L, 20L)) // ties break by id
  }

  test("heavyHitters: skewed stream exercises MG eviction; exact counts survive the gate") {
    // 60 'hot' + 120 distinct cold tokens, sketchSize=4 → constant
    // eviction pressure; hot (33% > 1/4... no: 60/180=33% > 25%) must
    // survive with its EXACT count; no cold token (freq 1) can pass
    val text = (Seq.fill(60)("hot") ++ (0 until 120).map(i => s"cold$i"))
      .mkString(" ")
    val docs = Seq(text).toDF("text")
    val got = TextStats.heavyHitters(docs, "text", sketchSize = 4)
      .as[(String, Long, Double)].collect()
    assert(got.toSeq == Seq(("hot", 60L,
      BigDecimal(60.0 / 180).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // partitioned the other way (many rows, many partitions) — same answer
    val spread = (Seq.fill(60)("hot") ++ (0 until 120).map(i => s"cold$i"))
      .map(t => Tuple1(t)).toDF("text").repartition(8)
    val got2 = TextStats.heavyHitters(spread, "text", sketchSize = 4)
      .as[(String, Long, Double)].collect()
    assert(got2.toSeq == got.toSeq)
  }

  test("heavyHitters: threshold is strict; at-threshold token excluded") {
    // 4 tokens × freq 2, N=8, k=4 → need freq*4 > 8 i.e. freq > 2: none pass
    val docs = Seq("a a b b c c d d").toDF("text")
    assert(TextStats.heavyHitters(docs, "text", sketchSize = 4).isEmpty)
  }

  test("randomProject: linear, deterministic, first component = scaled dot with plane 0") {
    val vecs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(2.0f)),
      (3L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(vecs, "vec_id", "embedding", outDims = 8)
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    assert(got.forall(_._2.length == 8))
    // zero vector → zero projection
    assert(got(2)._2.forall(_ == 0.0))
    // doubling the input doubles every component (within the 6dp round)
    got(0)._2.zip(got(1)._2).foreach { case (a, b) =>
      assert(math.abs(b - 2 * a) < 2e-6) }
    // component 0 equals the hand-computed scaled plane-0 dot
    val h0 = Similarity.hyperplanes(8, 64).head
    val expected = BigDecimal(h0.sum * (1.0 / math.sqrt(8.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0)._2.head == expected)
  }

  test("versioned: overwrite/append chains, version-pinned reads, immutable history") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned").toString + "/t"
    val v0 = graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    val v1 = graft.ext.Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir, SaveMode.Append)
    val v2 = graft.ext.Versioned.writeVersion(Seq((9L, "z")).toDF("id", "v"), dir)
    assert((v0, v1, v2) == (0, 1, 2))
    def ids(v: Int) = graft.ext.Versioned.readVersion(spark, dir, v)
      .select("id").as[Long].collect().toSet
    assert(ids(0) == Set(1L))            // still readable after later writes
    assert(ids(1) == Set(1L, 2L))        // append = v0 ∪ new, same files
    assert(ids(2) == Set(9L))            // overwrite resets
    assert(graft.ext.Versioned.latestVersion(spark, dir).contains(2))
    // append to a fresh table refuses
    intercept[IllegalArgumentException] {
      graft.ext.Versioned.writeVersion(Seq((1L, "x")).toDF("id", "v"),
        dir + "_none", SaveMode.Append)
    }
    // schema evolution across an append chain: the newer column must
    // surface (union schema, null backfill) — without mergeSchema the
    // scan would silently drop it depending on footer order
    graft.ext.Versioned.writeVersion(
      Seq((10L, "n", 1.5)).toDF("id", "v", "score"), dir, SaveMode.Append)
    val evolved = graft.ext.Versioned.readLatest(spark, dir)
    assert(evolved.columns.toSet == Set("id", "v", "score"))
    val scores = evolved.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(scores(10L).contains(1.5) && scores(9L).isEmpty)
    // the pre-evolution version still reads its own narrower schema
    assert(graft.ext.Versioned.readVersion(spark, dir, 2).columns.toSet == Set("id", "v"))
  }

  test("versioned deletion vectors: delete masks without rewriting; key-level across appends; overwrite applies; prune reclaims") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_dv").toString + "/t"
    def files(): Set[String] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(_.getAbsolutePath).filter(_.endsWith(".parquet")).toSet
    }
    val v0 = Versioned.writeVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"), dir)
    val dataFilesBefore = files()
    // DELETE ids 2 and 4: no data file is touched or added beyond the
    // tiny key set; the live read masks them
    val v1 = Versioned.deleteByKeys(spark, dir, Seq(2L, 4L).toDF("id"), "id")
    assert((v0, v1) == (0, 1))
    assert(dataFilesBefore.subsetOf(files()), "delete must not rewrite data files")
    def ids(v: Int) = Versioned.readVersion(spark, dir, v)
      .select("id").as[Long].collect().toSet
    assert(ids(1) == Set(1L, 3L))
    // time travel: the pre-delete version still sees every row
    assert(ids(0) == Set(1L, 2L, 3L, 4L))
    // KEY-level contract: an append that re-introduces a deleted key
    // stays masked (erasure semantics), new keys appear
    Versioned.writeVersion(Seq((4L, "d2"), (5L, "e")).toDF("id", "v"), dir, SaveMode.Append)
    assert(ids(2) == Set(1L, 3L, 5L))
    // a second delete on the same key column composes
    Versioned.deleteByKeys(spark, dir, Seq(5L).toDF("id"), "id")
    assert(ids(3) == Set(1L, 3L))
    // the next OVERWRITE applies the mask physically (its writer reads
    // through the masked view) and drops the dv references…
    Versioned.writeVersion(Versioned.readLatest(spark, dir), dir)
    assert(ids(4) == Set(1L, 3L))
    // …and pruning history reclaims every dv dir
    Versioned.pruneVersions(spark, dir, keepLast = 1)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!left.exists(_.endsWith("_dv")), s"dv dirs not reclaimed: $left")
    assert(ids(4) == Set(1L, 3L))
    // dv dirs referenced by SURVIVING manifests are load-bearing and
    // must survive a prune that keeps them
    val dir2 = java.nio.file.Files.createTempDirectory("graft_versioned_dv2").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir2)
    Versioned.deleteByKeys(spark, dir2, Seq(2L).toDF("id"), "id")
    Versioned.pruneVersions(spark, dir2, keepLast = 1)
    assert(Versioned.readLatest(spark, dir2)
      .select("id").as[Long].collect().toSet == Set(1L))
    // malformed key columns refuse up front (manifest embeds the name)
    intercept[IllegalArgumentException] {
      Versioned.deleteByKeys(spark, dir2, Seq(1L).toDF("id"), "id:evil")
    }
  }

  test("versioned: uncommitted data dir is invisible; prune reclaims it and expired versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned2").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    graft.ext.Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir,
      org.apache.spark.sql.SaveMode.Append)
    // simulate a write that crashed before its manifest rename: the
    // orphan data dir must not change any read or version listing
    Seq((99L, "junk")).toDF("id", "v").write
      .parquet(new org.apache.hadoop.fs.Path(dir, "v00000002_data").toString)
    assert(graft.ext.Versioned.versions(spark, dir) == Seq(0, 1))
    assert(graft.ext.Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // prune to the newest version: v0's manifest goes, but its data
    // dir SURVIVES (v1's append chain references it); the orphan dies
    // (orphanMinAgeMs=0: the test's orphan is seconds old — production
    // keeps the default retention window so an IN-FLIGHT writer's
    // uncommitted dir is never reclaimed under it)
    val stats = graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1,
      orphanMinAgeMs = 0L)
    assert(stats.versionsDropped == Seq(0))
    assert(stats.dirsDeleted == Seq("v00000002_data"))
    assert(graft.ext.Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .exists(_.startsWith("v00000000_data")))
    intercept[IllegalArgumentException] {
      graft.ext.Versioned.readVersion(spark, dir, 0)
    }
    // idempotent
    val again = graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1)
    assert(again.versionsDropped.isEmpty && again.dirsDeleted.isEmpty)
    // a commit that crashed between staging and rename leaves a
    // .tmp-commit file — invisible to readers, reclaimed by prune
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_versions/.tmp-commit-00000009"), false)
    out.write("junk\n".getBytes("UTF-8")); out.close()
    assert(graft.ext.Versioned.versions(spark, dir) == Seq(1))
    graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_versions/.tmp-commit-00000009")))
  }

  test("versioned: staging residue and malformed names never poison the version listing") {
    // the r5 regression: the rename commit staged to `.tmp-<v>.manifest`,
    // which versions()'s endsWith(".manifest") lister parsed with
    // .toInt → NumberFormatException for any concurrent reader during
    // the commit window, and PERMANENTLY after a crash mid-commit
    // (ManifestStore.recover is a no-op by design). Two independent
    // fixes, both asserted here: the staging name no longer carries
    // the .manifest suffix, and versions() accepts only names that
    // are exactly <digits>.manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned5").toString + "/t"
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fix 1: the staging file the HDFS rename fallback writes must not itself
    // match the manifest pattern (observe the name mid-"commit" by
    // writing it the way putIfAbsent stages)
    for (junk <- Seq(
        ".tmp-00000001.manifest.staging", // current staging name, crashed
        ".tmp-00000001.manifest",         // the OLD r5 staging name
        "garbage.manifest",               // non-numeric
        "00000001.manifest.bak")) {       // suffixed
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"_versions/$junk"), true)
      out.write("junk\n".getBytes("UTF-8")); out.close()
    }
    // fix 2: the lister ignores ALL of it — no crash, no phantom version
    assert(graft.ext.Versioned.versions(spark, dir) == Seq(0))
    assert(graft.ext.Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L))
    // the next write claims v1 normally despite the residue
    val v = graft.ext.Versioned.writeVersion(
      Seq((2L, "b")).toDF("id", "v"), dir)
    assert(v == 1 && graft.ext.Versioned.versions(spark, dir) == Seq(0, 1))
    // prune sweeps the .tmp-* residue (the non-dot junk names are
    // inert but not prune's to delete — they are not commit residue)
    graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 2, orphanMinAgeMs = 0L)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_versions"))
      .map(_.getPath.getName).toSet
    assert(!left.exists(_.startsWith(".tmp-")), s"tmp residue survived prune: $left")
  }

  test("versioned: a crashed write's orphan dir never blocks the retry of that version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned4").toString + "/t"
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a v1 write that crashed mid-data-write: partial dir,
    // no manifest
    Seq((99L, "partial")).toDF("id", "v").write
      .parquet(new org.apache.hadoop.fs.Path(dir, "v00000001_data").toString)
    // the retry must clear the wreckage and commit v1 cleanly
    val v = graft.ext.Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir,
      org.apache.spark.sql.SaveMode.Append)
    assert(v == 1)
    assert(graft.ext.Versioned.readVersion(spark, dir, 1)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("versioned: restore re-references old files as a NEW version; restore is undoable") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned5").toString + "/t"
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)          // v0
    graft.ext.Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir, SaveMode.Append) // v1
    graft.ext.Versioned.writeVersion(Seq((9L, "oops")).toDF("id", "v"), dir)       // v2: bad overwrite
    val restored = graft.ext.Versioned.restoreVersion(spark, dir, 1)
    assert(restored == 3)
    def ids(v: Int) = graft.ext.Versioned.readVersion(spark, dir, v)
      .select("id").as[Long].collect().toSet
    assert(ids(3) == Set(1L, 2L))              // v1's content is live again
    assert(ids(2) == Set(9L))                  // the bad version remains readable (undo of the undo)
    // prune keeps the restored chain's dirs alive even though v0/v1 manifests drop
    graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1)
    assert(graft.ext.Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("versioned: concurrent commit of the same version surfaces, never silently drops") {
    // two writers that both computed v=1 race to the commit rename:
    // the loser must get a conflict error, and the winner's manifest
    // must survive untouched (a silent overwrite would lose a commit)
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned3").toString + "/t"
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    val v0dir = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    graft.ext.Versioned.commitManifest(spark, dir, 1, Seq(v0dir))
    intercept[IllegalStateException] {
      graft.ext.Versioned.commitManifest(spark, dir, 1, Seq("v_loser_data"))
    }
    // winner's chain intact: v1 still reads v0's files
    assert(graft.ext.Versioned.readVersion(spark, dir, 1)
      .select("id").as[Long].collect().toSet == Set(1L))
  }

  test("noveltyStats: seen windows score 0, disjoint 1, overlap exact; short docs absent") {
    // k=2 windows. history doc: "a b c d" → windows {ab, bc, cd}
    val history = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d"),     // all 3 windows seen → novelty 0
      (11L, "x y z"),       // {xy, yz} both new → novelty 1
      (12L, "c d e"),       // {cd seen, de new} → 0.5
      (13L, "q")            // shorter than k → absent
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyStats(batch, history, "text", "doc_id", k = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      (10L, 3L, 3L, 0.0), (11L, 2L, 0L, 1.0), (12L, 2L, 1L, 0.5)))
  }

  test("mv refresh: delta algebra equals full recompute across chained refreshes") {
    import graft.ext.Materialized
    val b1 = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "x")
    val b2 = Seq((2L, 7.0), (3L, 1.0)).toDF("k", "x")   // grows a group, adds one
    val b3 = Seq((1L, 2.0)).toDF("k", "x")
    val keys = Seq("k")
    var view = Materialized.aggregate(b1, keys, "n", Seq("x"))
    view = Materialized.refreshAdditive(view, b2, keys, "n", Seq("x"))
    view = Materialized.refreshAdditive(view, b3, keys, "n", Seq("x"))
    val got = view.orderBy("k").as[(Long, Long, Double)].collect()
    val full = Materialized.aggregate(b1.union(b2).union(b3), keys, "n", Seq("x"))
      .orderBy("k").as[(Long, Long, Double)].collect()
    assert(got.toSeq == full.toSeq)
    assert(got.toSeq == Seq((1L, 3L, 32.0), (2L, 2L, 12.0), (3L, 1L, 1.0)))
    // empty delta is the identity
    val same = Materialized.refreshAdditive(view, b1.limit(0), keys, "n", Seq("x"))
      .orderBy("k").as[(Long, Long, Double)].collect()
    assert(same.toSeq == got.toSeq)
  }

  test("quantileBandFilter: interpolated band, inclusive edges, NULL scores drop") {
    // scores 10,20,30,40,50: p25 = 20 exactly, p75 = 40 exactly
    // (rank p*(n-1) lands on integers) — edge rows are KEPT
    val df = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L)),
      (4L, Some(40L)), (5L, Some(50L)), (6L, None)).toDF("id", "score")
    val got = Sampling.quantileBandFilter(df, "score", 0.25, 0.75)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      Sampling.quantileBandFilter(df, "score", 0.9, 0.1)
    }
  }

  test("rrfFuse: both-list docs outrank single-list; weights are 1/(k+rank); ties break by id") {
    val dense = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val sparse = Seq((20L, 1), (40L, 2), (30L, 3)).toDF("id", "rank")
    val got = graft.ext.Similarity.rrfFuse(dense, sparse, "id", kRank = 60, topK = 10)
      .as[(Long, Double, Int)].collect()
    // 20: 1/62 + 1/61 tops; 30 in both at rank 3 beats any single list
    assert(got.map(_._1).toSeq == Seq(20L, 30L, 10L, 40L))
    assert(got(0)._2 == 1.0 / 62 + 1.0 / 61 && got(0)._3 == 2)
    assert(got(2) == ((10L, 1.0 / 61, 1)))
    // symmetric single-list docs tie exactly → id breaks it
    val a = Seq((5L, 1)).toDF("id", "rank")
    val b = Seq((3L, 1)).toDF("id", "rank")
    val tied = graft.ext.Similarity.rrfFuse(a, b, "id", 60, 10)
      .as[(Long, Double, Int)].collect()
    assert(tied.map(_._1).toSeq == Seq(3L, 5L) && tied(0)._2 == tied(1)._2)
  }

  test("expectations: NULL predicate counts as failure; rates exact; rule order kept") {
    import graft.ext.Quality
    import graft.ext.Quality.Expectation
    val df = Seq(
      (1, Some(5)), (2, Some(-1)), (3, None) // NULL x: `x > 0` is NULL, must FAIL
    ).toDF("id", "x")
    val got = Quality.check(df, Seq(
      Expectation("x_positive", $"x" > 0),
      Expectation("id_small", $"id" <= 2)))
      .as[(String, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      ("x_positive", 3L, 2L, 0.333333), // -1 fails, NULL fails
      ("id_small", 3L, 1L, 0.666667)))
  }

  test("quarantine: any-rule failure splits; failing rule names in rule order") {
    import graft.ext.Quality
    import graft.ext.Quality.Expectation
    val df = Seq((1, 4), (2, 5), (3, -1), (4, 0)).toDF("id", "x")
    val (good, bad) = Quality.quarantine(df, Seq(
      Expectation("x_positive", $"x" > 0),
      Expectation("x_even", $"x" % 2 === 0)))
    // 4: both pass; 5: odd; -1: negative AND odd; 0: not positive
    assert(good.select("id").as[Int].collect().toSeq == Seq(1))
    assert(good.columns.toSeq == Seq("id", "x"), "passed rows carry no audit column")
    val badRows = bad.orderBy("id")
      .select($"id", $"failed_expectations").as[(Int, Seq[String])].collect()
    assert(badRows.toSeq == Seq(
      (2, Seq("x_even")),
      (3, Seq("x_positive", "x_even")),
      (4, Seq("x_positive"))))
  }

  test("columnStats: nulls, exact ndv, min/max as strings") {
    import graft.ext.Quality
    val df = Seq(
      (Some(1), Some("b")), (Some(2), None), (Some(2), Some("a"))
    ).toDF("n", "s")
    val got = Quality.columnStats(df, Seq("n", "s")).orderBy("col_name")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(got.toSeq == Seq(
      ("n", 3L, 0L, 2L, "1", "2"),
      ("s", 3L, 1L, 2L, "a", "b")))
  }

  test("importanceResample: target-like raw doc outranks disjoint-vocab doc; k caps") {
    val docs = Seq(
      (1L, "alpha beta gamma", "t"), (2L, "alpha beta gamma", "t"),
      (10L, "alpha beta gamma", "r"),          // raw, identical to target
      (11L, "zeta eta theta iota", "r"),       // raw, disjoint vocab
      (12L, "alpha zeta", "r")                 // raw, mixed
    ).toDF("doc_id", "text", "grp")
    val got = Sampling.importanceResample(docs, "text", "doc_id",
      $"grp" === "t", buckets = 64, k = 2)
      .select("doc_id", "rank").as[(Long, Int)].collect()
    // only raw docs are scored, top-2 of 3; the target-identical doc wins
    assert(got.length == 2 && got(0) == (10L, 1))
    // the disjoint-vocab doc must not beat the mixed one
    assert(got(1)._1 == 12L)
  }

  test("hybridSearch operator == manual dense+sparse+RRF composition") {
    import org.apache.spark.sql.expressions.Window
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    val vectors = emb.filter($"vec_id" =!= 0)
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe_vec"))
    val docs = Tables.documents(spark, d)
    val terms = Seq("spark", "join")
    val dense = Similarity.bruteForceTopK(vectors, probe, "vec_id", "embedding", 20)
      .withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id")))
      .select($"vec_id".as("doc_id"), $"rank")
    val sparse = TextStats.bm25(docs, "text", "doc_id", terms, topK = 20)
      .withColumn("rank",
        row_number().over(Window.orderBy($"score".desc, $"doc_id")))
      .select($"doc_id", $"rank")
    val manual = Similarity.rrfFuse(dense, sparse, "doc_id")
      .as[(Long, Double, Int)].collect().toSeq
    val op = Similarity.hybridSearch(vectors, probe, docs,
      "vec_id", "embedding", "text", "doc_id", terms)
      .as[(Long, Double, Int)].collect().toSeq
    assert(op == manual && op.nonEmpty)
  }

  // ─── the commit primitive: Commit.putIfAbsent picks its method from
  // the path scheme. SchemeLocalFs reports another scheme over a local
  // disk, so every branch runs here, not only the local hardlink.
  private def assertPutIfAbsent(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "claim.manifest")
    assert(graft.ext.Commit.putIfAbsent(fs, p, "winner\n".getBytes("UTF-8")))
    // second writer must LOSE, and the winner's content must survive
    assert(!graft.ext.Commit.putIfAbsent(fs, p, "loser\n".getBytes("UTF-8")))
    val got = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "claim.manifest")), "UTF-8")
    assert(got == "winner\n")
    // no staging residue left behind by either the win or the loss
    val residue = new java.io.File(dir).list().toSeq.filterNot(_ == "claim.manifest")
    assert(residue.isEmpty, s"staging residue: ${residue.mkString(",")}")
  }

  test("commit[put-if-absent]: put-if-absent publishes whole content once; loser keeps winner intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_commit_local").toString
    assertPutIfAbsent(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  test("commit[whole-object-put]: put-if-absent publishes whole content once; loser keeps winner intact") {
    // s3a: one conditional create; the loser's FileAlreadyExistsException
    // maps to false
    val dir = java.nio.file.Files.createTempDirectory("graft_commit_s3a").toString
    assertPutIfAbsent(SchemeLocalFs("s3a"), dir)
  }

  test("commit[rename]: put-if-absent publishes whole content once; loser keeps winner intact") {
    // an HDFS-like scheme: the stage-and-rename fallback, whose
    // `.tmp-…staging` file must not outlive the win or the loss
    val dir = java.nio.file.Files.createTempDirectory("graft_commit_hdfs").toString
    assertPutIfAbsent(SchemeLocalFs("hdfs"), dir)
  }

  test("commit[put-if-absent]: versioned concurrent commit surfaces, never silently drops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vc").toString + "/t"
    graft.ext.Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    val v0name = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    graft.ext.Versioned.commitManifest(spark, dir, 1, Seq(v0name))
    intercept[IllegalStateException] {
      graft.ext.Versioned.commitManifest(spark, dir, 1, Seq("v_loser_data"))
    }
    assert(graft.ext.Versioned.readVersion(spark, dir, 1)
      .select("id").as[Long].collect().toSet == Set(1L))
  }

  test("commit[put-if-absent]: manifest-store upsert crash windows — orphan invisible, table never missing, retry clean") {
    val store = graft.ext.ManifestStore
    val dir = java.nio.file.Files.createTempDirectory("graft_ms").toString + "/t"
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.gold.Upsert.upsertTable(spark, dir, t0, Seq("id"), store)
    assert(store.exists(spark, dir))
    // crash window: a v1 rewrite dies mid-data-write (partial dir,
    // no manifest). The live table must be EXACTLY the pre-crash
    // state — present, complete, unchanged — with zero recovery work
    Seq((99L, "junk")).toDF("id", "v").write
      .parquet(new org.apache.hadoop.fs.Path(dir, "v00000001_data").toString)
    assert(store.exists(spark, dir), "live table must never be missing mid-crash")
    assert(store.readLive(spark, dir).select("id").as[Long].collect().toSet == Set(1L, 2L))
    // the retry does not trip on the wreckage and merges correctly
    graft.gold.Upsert.upsertTable(spark, dir,
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"), store)
    val live = store.readLive(spark, dir).as[(Long, String)].collect().toMap
    assert(live == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    // time travel survives the upserts: v0 still reads pre-merge
    assert(graft.ext.Versioned.readVersion(spark, dir, 0)
      .select("v").as[String].collect().toSet == Set("a", "b"))
  }

  test("commit[put-if-absent]: manifest-store compact shrinks the LIVE file set; history intact; prune reclaims") {
    val store = graft.ext.ManifestStore
    val dir = java.nio.file.Files.createTempDirectory("graft_mc").toString + "/t"
    graft.ext.Versioned.writeVersionWith(spark, dir)(tmp =>
      spark.range(1000).toDF("id").repartition(8)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp))
    val before = store.liveFiles(spark, dir)
    assert(before.length == 8)
    val stats = graft.ext.Maintenance.compact(spark, dir,
      targetFileBytes = Long.MaxValue, store = store)
    assert(stats.filesBefore == 8 && stats.filesAfter == 1)
    assert(store.readLive(spark, dir).count() == 1000)
    // the pre-compaction version is still time-travel readable …
    assert(graft.ext.Versioned.readVersion(spark, dir, 0).count() == 1000)
    // … until prune drops it along with its now-dead files
    graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1)
    intercept[IllegalArgumentException] {
      graft.ext.Versioned.readVersion(spark, dir, 0)
    }
    assert(store.readLive(spark, dir).count() == 1000)
    // deletion vectors thread through the SAME compaction: a DELETE
    // then compact applies the mask physically (the compactor reads
    // the masked live view) and drops the dv reference
    graft.ext.Versioned.deleteByKeys(spark, dir,
      spark.range(500).toDF("id"), "id")
    assert(store.readLive(spark, dir).count() == 500)
    graft.ext.Maintenance.compact(spark, dir,
      targetFileBytes = Long.MaxValue, store = store)
    assert(store.readLive(spark, dir).count() == 500)
    graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1)
    val leftover = new java.io.File(dir).listFiles().map(_.getName)
    assert(!leftover.exists(_.endsWith("_dv")), s"dv survived apply+prune: ${leftover.toSeq}")
    assert(store.readLive(spark, dir).count() == 500)
  }

  test("versioned: racing appenders all commit via retry; no writer clobbers another's data") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_race").toString + "/t"
    Versioned.writeVersion(Seq((0L, "base")).toDF("id", "v"), dir)
    // 6 concurrent appenders race the version counter; every one must
    // land (unique data dirs + ATOMIC manifest claim + bounded retry).
    // The local claim is a hardlink, which fails on an existing
    // destination; a POSIX rename would silently replace it and let
    // two racers both "win"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (1 to 6).map { i =>
      Future(Versioned.appendVersionWithRetry(
        Seq((i.toLong, s"w$i")).toDF("id", "v"), dir))
    }
    val committed = Await.result(Future.sequence(writers), 120.seconds)
    // all six landed at distinct versions 1..6
    assert(committed.toSet == (1 to 6).toSet, s"got versions $committed")
    assert(Versioned.versions(spark, dir) == (0 to 6))
    // no data loss: the latest version unions every writer's rows
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet ==
      (0L to 6L).toSet)
    // losers' orphan dirs (failed attempts) are reclaimed by prune
    // without touching any referenced dir
    Versioned.pruneVersions(spark, dir, keepLast = 7)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet ==
      (0L to 6L).toSet)
    // a lost OVERWRITE race deliberately surfaces instead of retrying
    val e = intercept[IllegalStateException] {
      Versioned.commitManifest(spark, dir,
        Versioned.latestVersion(spark, dir).get, Seq("vx_data"))
    }
    assert(e.getMessage.contains("committed concurrently"))
  }

  test("versioned: RESTORE to a pre-delete version resurrects the rows (and is itself undoable)") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_restore").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id")
    def live() = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
    assert(live() == Set(1L))
    // RESTORE re-commits v0's manifest (no dv line) — Delta's restore
    // semantics: the delete is undone, and the restore is a new
    // version so IT can be undone too
    val v2 = Versioned.restoreVersion(spark, dir, 0)
    assert(v2 == 2 && live() == Set(1L, 2L))
    val v3 = Versioned.restoreVersion(spark, dir, 1)
    assert(v3 == 3 && live() == Set(1L))
  }

  test("commit seam: swap-store and manifest-store upserts produce identical tables") {
    val base = java.nio.file.Files.createTempDirectory("graft_seam").toString
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")), Seq((2L, "B"), (3L, "c")), Seq((1L, "A"), (4L, "d")))
    val stores: Seq[(String, graft.ext.TableStore)] =
      Seq(("swap", graft.ext.SwapStore),
          ("manifest", graft.ext.ManifestStore))
    val results = stores.map { case (nm, store) =>
      val dir = s"$base/$nm"
      batches.foreach(b =>
        graft.gold.Upsert.upsertTable(spark, dir, b.toDF("id", "v"), Seq("id"), store))
      store.readLive(spark, dir).as[(Long, String)].collect().toMap
    }
    assert(results(0) == results(1))
    assert(results(0) == Map(1L -> "A", 2L -> "B", 3L -> "c", 4L -> "d"))
    // the schema-EVOLVING twin through the same seam: an update batch
    // brings a new column; both stores land the identical union-schema
    // table (old rows null-backfilled, updated row carries the value)
    val evolved = stores.map { case (nm, store) =>
      val dir = s"$base/${nm}_evolve"
      graft.gold.Upsert.upsertTableEvolve(spark, dir,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), store)
      graft.gold.Upsert.upsertTableEvolve(spark, dir,
        Seq((2L, "B", 9.5)).toDF("id", "v", "w"), Seq("id"), store)
      store.readLive(spark, dir).select("id", "v", "w")
        .as[(Long, String, Option[Double])].collect().toSet
    }
    assert(evolved(0) == evolved(1))
    assert(evolved(0) == Set((1L, "a", None), (2L, "B", Some(9.5))))
  }

  test("pruneVersions: never-written table is a safe no-op (idempotent contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_fresh").toString
    val stats = graft.ext.Versioned.pruneVersions(spark, dir + "/never_written", keepLast = 1)
    assert(stats.versionsDropped.isEmpty && stats.dirsDeleted.isEmpty)
    // bare existing dir with no _versions: same contract
    val stats2 = graft.ext.Versioned.pruneVersions(spark, dir, keepLast = 1)
    assert(stats2.versionsDropped.isEmpty && stats2.dirsDeleted.isEmpty)
  }

  test("versioned: manifest-recorded schema serves evolved chains with ZERO plan-time jobs; legacy manifests fall back") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vschema").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    Versioned.writeVersion(Seq((2L, "b", 1.5)).toDF("id", "v", "score"), dir, SaveMode.Append)
    // the commit recorded the UNION schema — Delta metaData's role
    val rec = Versioned.recordedSchema(spark, dir, 1)
    assert(rec.map(_.fieldNames.toSeq).contains(Seq("id", "v", "score")))
    // job-count harness: the pre-round-8 mergeSchema read launched a
    // footer-merge Spark job at PLAN time on every read (at 100 TB /
    // 10^6 files, a cluster job before the query's first real task).
    // Prove the harness sees jobs by running one, then prove the
    // recorded-schema read plans with NONE.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Versioned.readLatest(spark, dir).count() // harness check: jobs ARE counted
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(jobs.get() > 0, "listener harness never saw the probe job")
      jobs.set(0)
      val df = Versioned.readVersion(spark, dir, 1) // plan only — no action
      Thread.sleep(1500) // let any async job-start event land
      assert(jobs.get() == 0,
        s"recorded-schema read launched ${jobs.get()} plan-time job(s) — the mergeSchema cost is back")
      // …and the plan is still the correct union-schema read
      assert(df.columns.toSeq == Seq("id", "v", "score"))
      assert(df.select("id", "score").as[(Long, Option[Double])].collect().toMap ==
        Map(1L -> None, 2L -> Some(1.5)))
    } finally spark.sparkContext.removeSparkListener(listener)
    // a manifest WITHOUT a schema line (pre-round-8 format, or a raw
    // commitManifest) still reads correctly via the mergeSchema fallback
    val v0dir = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    Versioned.commitManifest(spark, dir, 2, Seq(v0dir))
    assert(Versioned.recordedSchema(spark, dir, 2).isEmpty)
    assert(Versioned.readVersion(spark, dir, 2)
      .select("id").as[Long].collect().toSet == Set(1L))
    // the next APPEND onto the legacy manifest derives the union once
    // and records it — the table upgrades in place
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    assert(Versioned.recordedSchema(spark, dir, 3).nonEmpty)
    assert(Versioned.readVersion(spark, dir, 3)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // an append that CHANGES a column's type refuses up front (that
    // needs a rewrite, not a silent union)
    val e = intercept[IllegalArgumentException] {
      Versioned.writeVersion(Seq((4, 5)).toDF("id", "v"), dir, SaveMode.Append)
    }
    assert(e.getMessage.contains("changes type"))
  }

  test("versioned data skipping: manifest stats prune whole dirs at plan time; results exact; evolution-aware") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources._
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vskip").toString + "/t"
    def batch(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).toDF("id").withColumn("tag", lit(tag))
    Versioned.writeVersion(batch(0, 100, "alpha"), dir)
    Versioned.writeVersion(batch(100, 200, "beta"), dir, SaveMode.Append)
    val v = Versioned.writeVersion(batch(200, 300, "gamma"), dir, SaveMode.Append)
    def planned(fs: Filter*) = Versioned.planDataDirs(spark, dir, v, fs.toSeq).length
    assert(planned() == 3)
    // range predicates prune to exactly the dirs whose [min,max] admit rows
    assert(planned(GreaterThanOrEqual("id", 250L)) == 1)
    assert(planned(EqualTo("id", 150L)) == 1)
    assert(planned(LessThan("id", 100L)) == 1)
    assert(planned(GreaterThan("id", 99L), LessThanOrEqual("id", 200L)) == 2)
    // string stats prune too
    assert(planned(EqualTo("tag", "beta")) == 1)
    assert(planned(In("id", Array(10L, 20L))) == 1)
    // a provably-empty read plans ZERO dirs and still returns the schema
    assert(planned(GreaterThan("id", 1000L)) == 0)
    val empty = Versioned.readVersionSkipping(spark, dir, v, Seq(GreaterThan("id", 1000L)))
    assert(empty.columns.toSeq == Seq("id", "tag") && empty.count() == 0)
    // exactness: the skipping read equals the full read + filter
    val viaSkip = Versioned.readVersionSkipping(spark, dir, v,
      Seq(GreaterThan("id", 120L), LessThan("id", 260L)))
      .select("id").as[Long].collect().toSet
    val viaFull = Versioned.readVersion(spark, dir, v)
      .filter($"id" > 120L && $"id" < 260L).select("id").as[Long].collect().toSet
    assert(viaSkip == viaFull && viaSkip.nonEmpty)
    // evolution-aware: a later append introduces a column; IsNotNull on
    // it excludes every pre-evolution dir (their rows are backfilled
    // nulls — provable from the manifest alone)
    val v2 = Versioned.writeVersion(
      batch(300, 310, "delta").withColumn("score", $"id" * 2.0), dir, SaveMode.Append)
    assert(Versioned.planDataDirs(spark, dir, v2, Seq(IsNotNull("score"))).length == 1)
    assert(Versioned.planDataDirs(spark, dir, v2, Seq(IsNull("score"))).length == 3)
    assert(Versioned.readVersionSkipping(spark, dir, v2, Seq(IsNotNull("score")))
      .select("id").as[Long].collect().toSet == (300L until 310L).toSet)
    // deletion vectors compose with skipping: masked keys stay masked
    Versioned.deleteByKeys(spark, dir, Seq(150L, 305L).toDF("id"), "id")
    val v3 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.readVersionSkipping(spark, dir, v3,
      Seq(GreaterThanOrEqual("id", 140L), LessThan("id", 160L)))
      .select("id").as[Long].collect().toSet == ((140L until 160L).toSet - 150L))
    // stats only ever REMOVE provably-empty work: a dir-less manifest
    // (raw commit, no stats lines) is always read
    val anyData = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    Versioned.commitManifest(spark, dir, v3 + 1, Seq(anyData))
    assert(Versioned.planDataDirs(spark, dir, v3 + 1,
      Seq(GreaterThan("id", 1000L))).length == 1)
    // string bounds compare in UTF-8 BINARY order (parquet's footer
    // order) — Java String order would wrongly prove this dir empty
    // for the emoji probe (U+1F600 sorts BELOW U+FFFF in UTF-16 code
    // units but ABOVE it in UTF-8 bytes) and silently drop the row
    val uniDir = java.nio.file.Files.createTempDirectory("graft_vskip_uni").toString + "/t"
    val uniV = Versioned.writeVersion(
      Seq((1L, "￿"), (2L, "😀")).toDF("id", "tag"), uniDir)
    assert(Versioned.planDataDirs(spark, uniDir, uniV,
      Seq(EqualTo("tag", "😀"))).length == 1)
    assert(Versioned.readVersionSkipping(spark, uniDir, uniV,
      Seq(EqualTo("tag", "😀"))).select("id").as[Long].collect().toSeq == Seq(2L))

    // …and backfillStats upgrades exactly that legacy manifest in
    // place: schema + footer stats committed over the SAME dir, after
    // which the impossible predicate plans zero dirs
    val bv = Versioned.backfillStats(spark, dir)
    assert(bv.contains(v3 + 2))
    assert(Versioned.recordedSchema(spark, dir, v3 + 2).nonEmpty)
    assert(Versioned.planDataDirs(spark, dir, v3 + 2,
      Seq(GreaterThan("id", 1000L))).isEmpty)
    assert(Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == (0L until 100L).toSet)
    // idempotent: fully-statted manifests decline
    assert(Versioned.backfillStats(spark, dir).isEmpty)
  }

  test("versioned: dv compaction merges a delete-heavy chain to one dv dir per key column; masks identical; history intact") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dvmerge").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("v", concat(lit("r"), $"id")), dir)
    Versioned.deleteByKeys(spark, dir, Seq(1L, 2L).toDF("id"), "id")
    Versioned.deleteByKeys(spark, dir, Seq(2L, 3L).toDF("id"), "id")
    Versioned.deleteByKeys(spark, dir, Seq(50L).toDF("id"), "id")
    val preCompact = Versioned.latestVersion(spark, dir).get
    val preIds = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
    assert(preIds == (0L until 100L).toSet -- Set(1L, 2L, 3L, 50L))
    // 3 dv dirs live before compaction
    assert(Versioned.liveDataDirs(spark, dir).count(_.split('/').last.contains("_dv")) == 3)
    val compacted = Versioned.compactDeletionVectors(spark, dir)
    assert(compacted.contains(preCompact + 1))
    // exactly ONE dv dir per key column now; the mask is identical
    assert(Versioned.liveDataDirs(spark, dir).count(_.split('/').last.contains("_dv")) == 1)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet == preIds)
    // pre-compaction versions still time-travel to the un-merged chain
    assert(Versioned.readVersion(spark, dir, preCompact)
      .select("id").as[Long].collect().toSet == preIds)
    assert(Versioned.readVersion(spark, dir, 1)
      .select("id").as[Long].collect().toSet == (0L until 100L).toSet -- Set(1L, 2L))
    // idempotent: nothing left to merge
    assert(Versioned.compactDeletionVectors(spark, dir).isEmpty)
    // appends after compaction keep working (deleted keys stay masked)
    Versioned.writeVersion(Seq((2L, "back"), (200L, "new")).toDF("id", "v"), dir, SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet ==
      preIds + 200L)
    // the one-call maintenance pass: another delete re-fragments the
    // chain; maintainVersioned merges it AND applies retention
    Versioned.deleteByKeys(spark, dir, Seq(200L).toDF("id"), "id")
    val maint = graft.ext.Maintenance.maintainVersioned(spark, dir, keepLast = 2,
      orphanMinAgeMs = 0L)
    assert(maint.dvCompactedVersion.nonEmpty && maint.prune.versionsDropped.nonEmpty)
    assert(Versioned.liveDataDirs(spark, dir).count(_.split('/').last.contains("_dv")) == 1)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet == preIds)
  }

  test("pruneVersions retention window: a young unreferenced dir (possible in-flight writer) survives the default prune") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_age").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir)
    // a dir an in-flight writer just wrote, manifest not yet committed
    Seq((99L, "inflight")).toDF("id", "v").write
      .parquet(new org.apache.hadoop.fs.Path(dir, "v00000002_data_deadbeef").toString)
    // default prune: the EXPIRED version's dir (referenced by the
    // dropped v0 manifest) is reclaimed — committed history ages out
    // regardless — but the young never-referenced dir is NOT (the
    // advisor's race: reclaiming it would break the writer's commit)
    val stats = Versioned.pruneVersions(spark, dir, keepLast = 1)
    assert(stats.versionsDropped == Seq(0))
    assert(stats.dirsDeleted.exists(_.startsWith("v00000000_data")))
    assert(stats.dirsSkippedYoung == Seq("v00000002_data_deadbeef"))
    // the in-flight writer can now commit and its version reads fine
    Versioned.commitManifest(spark, dir, 2, Seq("v00000002_data_deadbeef"))
    assert(Versioned.readVersion(spark, dir, 2)
      .select("id").as[Long].collect().toSet == Set(99L))
    // a crashed local put-if-absent staging file (.put-*) is swept once
    // old enough — the advisor's permanent-debris gap
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val put = new org.apache.hadoop.fs.Path(dir, "_versions/.put-00000009.manifest12345678.tmp")
    val out = fs.create(put, false); out.write("junk".getBytes("UTF-8")); out.close()
    Versioned.pruneVersions(spark, dir, keepLast = 2) // young: survives
    assert(fs.exists(put))
    Versioned.pruneVersions(spark, dir, keepLast = 2, orphanMinAgeMs = 0L)
    assert(!fs.exists(put), "crashed .put-* staging debris never reclaimed")
  }

  test("changesBetween: version diff classifies insert/delete/update, suppresses unchanged, tolerates evolution") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vchanges").toString + "/t"
    Versioned.writeVersion(Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
    ).toDF("id", "v", "x"), dir)
    // v1: 1 unchanged, 2 updated, 3 deleted, 5 inserted
    Versioned.writeVersion(Seq(
      (1L, "a", 10.0), (2L, "B2", 20.0), (4L, "d", 40.0), (5L, "e", 50.0)
    ).toDF("id", "v", "x"), dir)
    val feed = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
      .select("id", "v", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(feed == Set(
      (2L, "b", "update_preimage"), (2L, "B2", "update_postimage"),
      (3L, "c", "delete"), (5L, "e", "insert")),
      s"wrong feed: $feed") // ids 1 and 4 unchanged → absent
    // evolution between the versions: v2 adds a column; the feed pads
    // the old side with nulls and a value-only change on the NEW
    // column still classifies as an update
    Versioned.writeVersion(Seq((1L, "a", 10.0, 7L)).toDF("id", "v", "x", "extra"),
      dir, SaveMode.Append)
    val evolved = Versioned.changesBetween(spark, dir, 1, 2, Seq("id"))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    // append kept every v1 row identical and re-added id 1 with the
    // extra column: id 1 appears twice in v2 — a duplicate-key state
    // changesBetween surfaces as updates on the joined values
    assert(evolved.forall(_._2.startsWith("update")) &&
      evolved.map(_._1) == Set(1L), s"evolved feed: $evolved")
    val cols = Versioned.changesBetween(spark, dir, 1, 2, Seq("id")).columns.toSeq
    assert(cols == Seq("id", "v", "x", "extra", "_change_type"))
    intercept[IllegalArgumentException] {
      Versioned.changesBetween(spark, dir, 2, 1, Seq("id"))
    }
  }

  test("SQL INSERT commits through the manifest on every tier; raw parquet write can never leak into immutable dirs") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlwrite").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    spark.conf.set("spark.sql.catalog.graft_vw", "graft.sql.VersionedCatalog")
    // INSERT INTO = a new APPEND version through the OCC path
    spark.sql(s"INSERT INTO graft_vw.`$dir` VALUES (2, 'b')")
    assert(Versioned.versions(spark, dir) == Seq(0, 1))
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // time travel still serves the pre-insert state — SQL writes are
    // versions like any other
    assert(spark.sql(s"SELECT id FROM graft_vw.`$dir` VERSION AS OF 0")
      .as[Long].collect().toSet == Set(1L))
    // INSERT OVERWRITE = a fresh version, history intact
    spark.sql(s"INSERT OVERWRITE graft_vw.`$dir` VALUES (9, 'z')")
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
    assert(spark.sql(s"SELECT count(*) FROM graft_vw.`$dir` VERSION AS OF 1")
      .head().getLong(0) == 2L)
    // LEGACY tier: a raw data-dir-only manifest. The wrapper must route
    // the insert through a NEW manifest version — the naked ParquetTable
    // would write files INTO the referenced dir, rewriting history
    val legacyDir = java.nio.file.Files.createTempDirectory("graft_sqlwrite_legacy").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), legacyDir)
    val v0name = new java.io.File(legacyDir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    Versioned.commitManifest(spark, legacyDir, 1, Seq(v0name)) // schema-less manifest
    def filesIn(d: String) = new java.io.File(legacyDir, d).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = filesIn(v0name)
    spark.sql(s"INSERT INTO graft_vw.`$legacyDir` VALUES (2, 'b')")
    assert(filesIn(v0name) == before, "insert leaked files into an immutable dir")
    assert(Versioned.versions(spark, legacyDir) == Seq(0, 1, 2))
    assert(Versioned.readLatest(spark, legacyDir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // dv tier: an insert that re-introduces a deleted key stays masked
    Versioned.deleteByKeys(spark, dir, Seq(9L).toDF("id"), "id")
    spark.sql(s"INSERT INTO graft_vw.`$dir` VALUES (9, 'back'), (10, 'new')")
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((10L, "new")))
    assert(spark.sql(s"SELECT id FROM graft_vw.`$dir`").as[Long].collect().toSet ==
      Set(10L))
  }

  test("history + TIMESTAMP AS OF: lineage from manifest bytes; the mtime clock resolves between commits") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vhistory").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Thread.sleep(250)
    val tMid = System.currentTimeMillis()
    Thread.sleep(250)
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id")
    val h = Versioned.history(spark, dir).orderBy("version")
      .select("version", "n_data_dirs", "n_dv_dirs", "n_columns", "n_rows")
      .as[(Int, Int, Int, Option[Int], Option[Long])].collect().toSeq
    // physical rows are PRE-mask (the dv is a read-time subtraction)
    assert(h == Seq((0, 1, 0, Some(2), Some(2L)), (1, 2, 0, Some(2), Some(3L)),
      (2, 2, 1, Some(2), Some(3L))), s"history: $h")
    // a legacy manifest (no schema/stats) surfaces as NULL width/rows
    val v0name = new java.io.File(dir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    Versioned.commitManifest(spark, dir, 3, Seq(v0name))
    val legacyRow = Versioned.history(spark, dir).filter($"version" === 3)
      .select("n_columns", "n_rows").as[(Option[Int], Option[Long])].head()
    assert(legacyRow == ((None, None)))
    // the mtime clock: between-commit timestamps resolve to the older
    // version, pre-table timestamps refuse
    assert(Versioned.versionAsOfTimestamp(spark, dir, tMid).contains(0))
    assert(Versioned.versionAsOfTimestamp(spark, dir, System.currentTimeMillis())
      .contains(3))
    assert(Versioned.versionAsOfTimestamp(spark, dir, 1000L).isEmpty)
    // SQL TIMESTAMP AS OF end to end (UTC literal — the session TZ)
    spark.conf.set("spark.sql.catalog.graft_vts", "graft.sql.VersionedCatalog")
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(tMid))
    val got = spark.sql(s"SELECT id FROM graft_vts.`$dir` TIMESTAMP AS OF '$lit'")
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L), s"TIMESTAMP AS OF served $got")
    val e = intercept[Exception] {
      spark.sql(s"SELECT id FROM graft_vts.`$dir` TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("no version"), e.getMessage)
  }

  test("per-file skipping stats: prune inside a surviving dir; exact; legacy per-dir manifests upgrade via backfill") {
    import org.apache.spark.sql.sources._
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_fileskip").toString + "/t"
    // ONE commit, FOUR files of 100 ids each (range-partitioned) — the
    // dir bound is [0,400) so dir-level skipping can never cut inside
    Versioned.writeVersionWith(spark, dir)(tmp =>
      spark.range(0, 400).toDF("id")
        .repartitionByRange(4, $"id").sortWithinPartitions("id")
        .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(tmp))
    def files(fs: Filter*) = Versioned.planDataFiles(spark, dir, 0, fs.toSeq)
    assert(files().length == 4)
    assert(Versioned.planDataDirs(spark, dir, 0, Seq(GreaterThanOrEqual("id", 350L))).length == 1,
      "dir level cannot prune — the cut below must be per-file stats")
    assert(files(GreaterThanOrEqual("id", 350L)).length == 1)
    assert(files(EqualTo("id", 150L)).length == 1)
    assert(files(GreaterThan("id", 99L), LessThanOrEqual("id", 200L)).length == 2)
    assert(files(GreaterThan("id", 1000L)).isEmpty)
    // exactness through the real read (pushed filters reach the
    // manifest-served index): skipping read ≡ full read + filter
    val got = Versioned.readLatest(spark, dir).filter($"id" >= 350L)
      .select("id").as[Long].collect().toSet
    assert(got == (350L until 400L).toSet)
    // a per-DIR-format manifest (file entries without rows/cols — the
    // round-8 layout) plans every file, and backfillStats upgrades it
    // in place to the per-file format over the SAME dir
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_versions/00000000.manifest")), "UTF-8")
    val legacy = raw.split("\n").map { line =>
      if (!line.startsWith("stats:")) line
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val i = line.indexOf(':', 6)
        val node = om.readTree(line.substring(i + 1))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        val files = node.withArray("files")
        (0 until files.size()).foreach { j =>
          val o = files.get(j).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          o.remove("r"); o.remove("c")
        }
        line.substring(0, i + 1) + om.writeValueAsString(node)
      }
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_versions/00000001.manifest"),
      legacy.getBytes("UTF-8"))
    assert(Versioned.planDataFiles(spark, dir, 1,
      Seq(GreaterThanOrEqual("id", 350L))).length == 4,
      "entries without per-file stats must always be read")
    assert(Versioned.readVersion(spark, dir, 1).filter($"id" >= 350L)
      .select("id").as[Long].collect().toSet == (350L until 400L).toSet)
    val bv = Versioned.backfillStats(spark, dir)
    assert(bv.contains(2))
    assert(Versioned.planDataFiles(spark, dir, 2,
      Seq(GreaterThanOrEqual("id", 350L))).length == 1)
    // idempotent once upgraded
    assert(Versioned.backfillStats(spark, dir).isEmpty)
  }

  test("deletion-vector size contract: oversized deletes refuse at write; DSv2 reader re-checks; both sides of the threshold") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dvguard").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id"), dir)
    spark.conf.set("spark.graft.dv.maxKeys", "5")
    try {
      // under the cap: normal dv delete
      Versioned.deleteByKeys(spark, dir, Seq(1L, 2L, 3L).toDF("id"), "id")
      assert(Versioned.readLatest(spark, dir).count() == 97)
      // over the cap: refusal names the conf and the physical remedy,
      // and the oversized key set is NOT committed (no phantom version)
      val before = Versioned.latestVersion(spark, dir).get
      val e = intercept[IllegalArgumentException] {
        Versioned.deleteByKeys(spark, dir, spark.range(10, 20).toDF("id"), "id")
      }
      assert(e.getMessage.contains("spark.graft.dv.maxKeys") &&
        e.getMessage.contains("left_anti"), e.getMessage)
      assert(Versioned.latestVersion(spark, dir).contains(before))
      assert(Versioned.readLatest(spark, dir).count() == 97)
      // the DSv2 reader's defense-in-depth: a dv committed under a
      // looser cap fails the read under a tighter one, remedy named
      spark.conf.set("spark.graft.dv.maxKeys", "2")
      spark.conf.set("spark.sql.catalog.graft_dvg", "graft.sql.VersionedCatalog")
      val e2 = intercept[Exception] {
        spark.sql(s"SELECT id FROM graft_dvg.`$dir`").collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e2).exists(m => m.contains("spark.graft.dv.maxKeys")), chain(e2).mkString("; "))
      spark.conf.set("spark.graft.dv.maxKeys", "5")
      assert(spark.sql(s"SELECT id FROM graft_dvg.`$dir`").count() == 97)
    } finally spark.conf.unset("spark.graft.dv.maxKeys")
  }

  test("OPTIMIZE ZORDER through the manifest: per-file rectangles tighten, same predicate prunes more files, dv applied physically") {
    import org.apache.spark.sql.sources._
    import graft.ext.{Maintenance, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_vzorder").toString + "/t"
    // 4096 points of a 64x64 grid, hash-scattered into 8 files: every
    // file spans the full range of BOTH columns, so nothing can prune
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("a", col("id") % 64)
      .withColumn("b", col("id") / 64)
    Versioned.writeVersionWith(spark, dir)(tmp =>
      df.repartition(8).write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(tmp))
    def planned(v: Int, fs: Filter*) = Versioned.planDataFiles(spark, dir, v, fs.toSeq).length
    assert(planned(0) == 8)
    assert(planned(0, LessThan("b", 8L)) == 8, "scattered layout must not prune")
    Versioned.deleteByKeys(spark, dir, Seq(0L, 1L).toDF("id"), "id")
    val v2 = Maintenance.zorderVersioned(spark, dir, "a", "b", nFiles = 8, bits = 6)
    assert(v2 == 2)
    // the optimize read through the mask: dv applied PHYSICALLY, chain dropped
    assert(Versioned.versionInfo(spark, dir, v2).dvDirs.isEmpty)
    assert(Versioned.readLatest(spark, dir).count() == 4094)
    // the SAME predicate now prunes most files — and on EITHER column
    // (the multi-dimensional property a single-column sort lacks)
    assert(planned(v2) == 8)
    assert(planned(v2, LessThan("b", 8L)) < 8, s"b-prune: ${planned(v2, LessThan("b", 8L))}")
    assert(planned(v2, LessThan("a", 8L)) < 8, s"a-prune: ${planned(v2, LessThan("a", 8L))}")
    // exactness under the pruned plan (ids 0,1 were deleted, both in
    // the b<8 and a<8 regions)
    assert(Versioned.readLatest(spark, dir).filter($"b" < 8).count() == 510)
    assert(Versioned.readLatest(spark, dir).filter($"a" < 8).count() == 510)
    // time travel to the pre-optimize layout still serves (masked)
    assert(Versioned.readVersion(spark, dir, 1).count() == 4094)
  }

  test("write-time change feed: recorded equals derived; served after prune kills the derive path; multi-hop changeFeed") {
    import graft.ext.Versioned
    val dirA = java.nio.file.Files.createTempDirectory("graft_cdf_rec").toString + "/t"
    val dirB = java.nio.file.Files.createTempDirectory("graft_cdf_der").toString + "/t"
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val v1 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    Versioned.writeVersion(v0, dirA)
    Versioned.writeVersionWithChangeFeed(v1, dirA, Seq("id"))
    Versioned.writeVersion(v0, dirB)
    Versioned.writeVersion(v1, dirB)
    assert(Versioned.hasRecordedChanges(spark, dirA, 0, 1, Seq("id")))
    assert(!Versioned.hasRecordedChanges(spark, dirB, 0, 1, Seq("id")))
    // a feed recorded for different keys must not serve this call
    assert(!Versioned.hasRecordedChanges(spark, dirA, 0, 1, Seq("v")))
    def feedSet(dir: String) = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
      .select("id", "v", "_change_type").as[(Long, String, String)].collect().toSet
    val expected = Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (3L, "c", "delete"), (4L, "d", "insert"))
    assert(feedSet(dirA) == expected, s"recorded: ${feedSet(dirA)}")
    assert(feedSet(dirB) == expected, s"derived: ${feedSet(dirB)}")
    // multi-hop per-commit feed carries _commit_version; note a key
    // updated at v1 and deleted at v2 appears in both steps
    val v2 = Seq((1L, "a"), (4L, "D")).toDF("id", "v")
    Versioned.writeVersionWithChangeFeed(v2, dirA, Seq("id"))
    val hops = Versioned.changeFeed(spark, dirA, 0, 2, Seq("id"))
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(hops == expected.map { case (i, s, t) => (i, s, t, 1L) } ++ Set(
      (2L, "B", "delete", 2L), (4L, "d", "update_preimage", 2L),
      (4L, "D", "update_postimage", 2L)), hops.toString)
    // …and _commit_timestamp serves each commit's RECORDED clock
    val tsByV = Versioned.changeFeed(spark, dirA, 0, 2, Seq("id"))
      .select("_commit_version", "_commit_timestamp").distinct()
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert((1 to 2).forall(v => tsByV(v.toLong).getTime ==
      Versioned.commitTimestamp(spark, dirA, v)), tsByV.toString)
    // retention: pruning v0/v1 reclaims their dirs — the DERIVE path
    // for (1→2) is gone with them, but the feed recorded in v2's
    // surviving manifest still serves (the whole point of recording)
    Versioned.pruneVersions(spark, dirA, keepLast = 1, orphanMinAgeMs = 0)
    assert(Versioned.hasRecordedChanges(spark, dirA, 1, 2, Seq("id")))
    val afterPrune = Versioned.changesBetween(spark, dirA, 1, 2, Seq("id"))
      .select("id", "v", "_change_type").as[(Long, String, String)].collect().toSet
    assert(afterPrune == Set((2L, "B", "delete"), (4L, "d", "update_preimage"),
      (4L, "D", "update_postimage")), afterPrune.toString)
  }

  test("SQL TVF versioned_table_changes: serves the RECORDED feed through SQL (survives prune), derives unrecorded spans, composes") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf_cdf").toString + "/t"
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val v1 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    Versioned.writeVersion(v0, dir)
    Versioned.writeVersionWithChangeFeed(v1, dir, Seq("id"))
    graft.sql.VersionedFunctions.register(spark)
    def feedSql(vFrom: Int, vTo: Int) = spark.sql(
      s"SELECT id, v, _change_type, _commit_version " +
        s"FROM versioned_table_changes('$dir', $vFrom, $vTo, 'id')")
      .as[(Long, String, String, Long)].collect().toSet
    val expected = Set((2L, "b", "update_preimage", 1L), (2L, "B", "update_postimage", 1L),
      (3L, "c", "delete", 1L), (4L, "d", "insert", 1L))
    assert(feedSql(0, 1) == expected, feedSql(0, 1).toString)
    // prune v0's data away: the DERIVE path for (0→1) is gone, but the
    // feed recorded in v1's manifest still serves THROUGH SQL — the
    // q123 assertion, at the TVF tier
    Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0)
    assert(Versioned.hasRecordedChanges(spark, dir, 0, 1, Seq("id")))
    assert(feedSql(0, 1) == expected, s"after prune: ${feedSql(0, 1)}")
    // an UNRECORDED span derives inside the TVF (v1 → v2 plain write)
    val v2 = Seq((1L, "a"), (4L, "D")).toDF("id", "v")
    Versioned.writeVersion(v2, dir)
    assert(!Versioned.hasRecordedChanges(spark, dir, 1, 2, Seq("id")))
    assert(feedSql(1, 2) == Set((2L, "B", "delete", 2L),
      (4L, "d", "update_preimage", 2L), (4L, "D", "update_postimage", 2L)))
    // and a TVF composes like any relation — filter + aggregate over it
    val nUpdates = spark.sql(
      s"SELECT count(*) AS n FROM versioned_table_changes('$dir', 0, 2, 'id') " +
        "WHERE _change_type LIKE 'update%'").as[Long].head()
    assert(nUpdates == 4L, s"expected 4 update rows across both commits, got $nUpdates")
  }

  test("partitioned versioned tables: hive layout per commit, partition values served from the manifest, pruning, nulls, dv, append rules") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources._
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vpart").toString + "/t"
    val v0df = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "b"), (4L, 40.0, null))
      .toDF("id", "price", "status")
    Versioned.writeVersionPartitioned(v0df, dir, Seq("status"))
    // read back: partition values re-attached from the manifest (the
    // data files do NOT hold the column), null partition included
    val got = Versioned.readLatest(spark, dir)
      .select("id", "price", "status").as[(Long, Double, Option[String])]
      .collect().toSet
    assert(got == Set((1L, 10.0, Some("a")), (2L, 20.0, Some("b")),
      (3L, 30.0, Some("b")), (4L, 40.0, None)), got.toString)
    // schema order: data columns first, partition column last; type pinned
    assert(Versioned.readLatest(spark, dir).schema.fields.last.name == "status")
    assert(Versioned.readLatest(spark, dir).schema("status").dataType ==
      org.apache.spark.sql.types.StringType)
    // partition filters prune FILES from manifest bytes
    assert(Versioned.planDataFiles(spark, dir, 0, Seq(EqualTo("status", "b"))).length <
      Versioned.planDataFiles(spark, dir, 0, Seq.empty).length)
    // filtered reads are exact, incl null-partition predicates
    assert(Versioned.readLatest(spark, dir).filter($"status" === "b")
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
    assert(Versioned.readLatest(spark, dir).filter($"status".isNull)
      .select("id").as[Long].collect().toSet == Set(4L))
    // value-stats skipping still composes on data columns
    assert(Versioned.readLatest(spark, dir).filter($"price" > 25.0)
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
    // appends: same spec extends the chain; a different or missing
    // spec refuses (mixed layouts would be unreadable)
    Versioned.writeVersionPartitioned(
      Seq((5L, 50.0, "a")).toDF("id", "price", "status"), dir, Seq("status"),
      SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).count() == 5)
    assert(Versioned.readLatest(spark, dir).filter($"status" === "a")
      .select("id").as[Long].collect().toSet == Set(1L, 5L))
    intercept[IllegalArgumentException] {
      Versioned.writeVersion(Seq((9L, 90.0, "z")).toDF("id", "price", "status"),
        dir, SaveMode.Append)
    }
    intercept[IllegalArgumentException] {
      Versioned.writeVersionPartitioned(Seq((9L, 90.0, "z"))
        .toDF("id", "price", "status"), dir, Seq("id"), SaveMode.Append)
    }
    // deletion vectors compose with the partitioned read
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id")
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L, 5L))
    // time travel serves the pre-append partitioned state
    assert(Versioned.readVersion(spark, dir, 0).count() == 4)
    // date-typed partition column round-trips through the path form
    val dDir = java.nio.file.Files.createTempDirectory("graft_vpart_date").toString + "/t"
    val dts = Seq((1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-02-01"))).toDF("id", "day")
    Versioned.writeVersionPartitioned(dts, dDir, Seq("day"))
    assert(Versioned.readLatest(spark, dDir)
      .filter($"day" === java.sql.Date.valueOf("2024-02-01"))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // the SQL catalog serves partitioned chains through the
    // manifest-backed partitioning index (Spark's own discovery
    // refuses the sibling nonce'd roots): partition values re-attached,
    // dv mask applied, time travel intact — all plain spark.sql
    spark.conf.set("spark.sql.catalog.graft_vp", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT id FROM graft_vp.`$dir` WHERE status = 'a'")
      .as[Long].collect().toSet == Set(1L, 5L))
    assert(spark.sql(s"SELECT id, status FROM graft_vp.`$dir`")
      .as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("a")), (3L, Some("b")), (4L, None), (5L, Some("a"))),
      "SQL read must be dv-masked with partition values attached")
    assert(spark.sql(s"SELECT id FROM graft_vp.`$dir` VERSION AS OF 0").count() == 4)
    assert(spark.sql(s"SELECT id FROM graft_vp.`$dir` WHERE status IS NULL")
      .as[Long].collect().toSeq == Seq(4L))
    // the SQL plan prunes partitions from manifest bytes
    val pf = spark.sql(s"SELECT id FROM graft_vp.`$dir` WHERE status = 'a'")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pf.contains("ManifestPartitioningIndex"), pf)
  }

  test("SQL DELETE: key predicates commit a deletion vector; range/multi-column refuse; bare DELETE truncates") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqldel").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("price", $"id" * 10.0), dir)
    spark.conf.set("spark.sql.catalog.graft_sd", "graft.sql.VersionedCatalog")
    // IN-list delete → dv commit: a new version, data dirs untouched
    spark.sql(s"DELETE FROM graft_sd.`$dir` WHERE id IN (5, 7, 9)")
    assert(Versioned.latestVersion(spark, dir).contains(1))
    // SQL deletes commit SCOPED masks (statement-time rows only)
    assert(Versioned.versionInfo(spark, dir, 1).scopedDvs.nonEmpty)
    assert(spark.sql(s"SELECT id FROM graft_sd.`$dir`").as[Long].collect().toSet ==
      (0L until 100L).toSet -- Set(5L, 7L, 9L))
    // time travel still serves the pre-delete state
    assert(spark.sql(s"SELECT id FROM graft_sd.`$dir` VERSION AS OF 0").count() == 100)
    // equality delete works on a dv-bearing table too (another dv)
    spark.sql(s"DELETE FROM graft_sd.`$dir` WHERE id = 11")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_sd.`$dir`")
      .as[Long].head() == 96)
    // int literal vs bigint key column: the dv must carry the TABLE's
    // type or the in-reader mask would never match — covered above
    // (IN (5,7,9) parses as ints, id is bigint)

    // a range predicate is NOT a key mask: Spark routes it to the
    // group-based COPY-ON-WRITE rewrite (VersionedRowOps) — now
    // FILE-GRANULAR: only candidate files rewrite (mask applied
    // physically within them), and the dv CARRIES because it still
    // masks the untouched files
    spark.sql(s"DELETE FROM graft_sd.`$dir` WHERE price > 500.0")
    assert(Versioned.latestVersion(spark, dir).contains(3))
    assert(Versioned.versionInfo(spark, dir, 3).scopedDvs.nonEmpty,
      "a file-granular rewrite keeps the dv: it still masks the untouched files")
    assert(spark.sql(s"SELECT id FROM graft_sd.`$dir`").as[Long].collect().toSet ==
      (0L to 50L).toSet -- Set(5L, 7L, 9L, 11L))
    // multi-column conjunction rewrites too
    spark.sql(s"DELETE FROM graft_sd.`$dir` WHERE id = 1 AND price = 10.0")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_sd.`$dir`").as[Long].head() == 46)
    // bare DELETE FROM = truncate: one EMPTY overwrite commit, schema
    // kept, history intact
    spark.sql(s"DELETE FROM graft_sd.`$dir`")
    assert(spark.sql(s"SELECT * FROM graft_sd.`$dir`").count() == 0)
    assert(spark.sql(s"SELECT id FROM graft_sd.`$dir` VERSION AS OF 4").count() == 46)
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id", "price"))
  }

  test("SQL UPDATE and MERGE INTO: copy-on-write rewrites commit overwrite versions; dv applied physically; travel intact") {
    withCow {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlrw").toString + "/t"
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("price", $"id" * 10.0), dir)
    spark.conf.set("spark.sql.catalog.graft_rw", "graft.sql.VersionedCatalog")
    // UPDATE: Spark reads the table through its own scan, computes the
    // per-row conditional replacement, and the write lands as ONE
    // overwrite manifest commit
    spark.sql(s"UPDATE graft_rw.`$dir` SET price = price + 1000 WHERE id < 10")
    assert(Versioned.latestVersion(spark, dir).contains(1))
    val got = spark.sql(s"SELECT id, price FROM graft_rw.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 100 && got(5L) == 1050.0 && got(50L) == 500.0, got(5L).toString)
    // pre-UPDATE state still time-travels
    assert(spark.sql(s"SELECT price FROM graft_rw.`$dir` VERSION AS OF 0 WHERE id = 5")
      .as[Double].head() == 50.0)
    // UPDATE through a dv mask: the rewrite reads its candidate files
    // MASKED (so the mask applies physically within them), and the dv
    // CARRIES — it still masks the files the rewrite never touched
    Versioned.deleteByKeys(spark, dir, Seq(99L).toDF("id"), "id")
    spark.sql(s"UPDATE graft_rw.`$dir` SET price = 0.0 WHERE id = 98")
    val vNow = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, vNow).dvDirs.nonEmpty,
      "a file-granular rewrite keeps the dv: it still masks the untouched files")
    val after = spark.sql(s"SELECT id, price FROM graft_rw.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(after.size == 99 && !after.contains(99L) && after(98L) == 0.0)
    // MERGE INTO: delete + update + insert clauses in one statement
    spark.range(95, 105).toDF("id")
      .withColumn("price", lit(1.0)).createOrReplaceTempView("graft_rw_src")
    spark.sql(
      s"""MERGE INTO graft_rw.`$dir` t USING graft_rw_src s ON t.id = s.id
         |WHEN MATCHED AND t.id = 95 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET price = s.price
         |WHEN NOT MATCHED THEN INSERT (id, price) VALUES (s.id, s.price)""".stripMargin)
    val merged = spark.sql(s"SELECT id, price FROM graft_rw.`$dir`")
      .as[(Long, Double)].collect().toMap
    // 99 rows - deleted 95 + inserted 99..104 (6) = 104; 96..98 updated
    assert(merged.size == 104, merged.size.toString)
    assert(!merged.contains(95L) && merged(96L) == 1.0 && merged(97L) == 1.0 &&
      merged(99L) == 1.0 && merged(104L) == 1.0 && merged(50L) == 500.0)
    // every rewrite is a plain version: full history walkable
    assert(Versioned.versions(spark, dir).length == 5)
    }
  }

  test("versioned: restoreVersion commits v0's rows, schema and stats as the next version") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_restore").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir)
    val v2 = Versioned.restoreVersion(spark, dir, 0)
    assert(v2 == 2)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet == Set(1L))
    // the restore carried v0's schema and stats lines with it
    assert(Versioned.recordedSchema(spark, dir, v2).nonEmpty)
    assert(Versioned.planDataDirs(spark, dir, v2,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 5L))).isEmpty)
  }

  test("SQL DDL lifecycle: CREATE / INSERT / ALTER ADD+DROP / DROP, every step a manifest commit") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlddl").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_ddl", "graft.sql.VersionedCatalog")
    // CREATE TABLE = a metadata-only v0: schema recorded, zero data
    // dirs, the empty relation serves with the schema intact
    spark.sql(s"CREATE TABLE graft_ddl.`$dir` (id BIGINT, price DOUBLE)")
    assert(Versioned.latestVersion(spark, dir).contains(0))
    val empty = spark.sql(s"SELECT * FROM graft_ddl.`$dir`")
    assert(empty.columns.toSeq == Seq("id", "price") && empty.count() == 0)
    // re-create refuses; IF NOT EXISTS is a no-op
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE graft_ddl.`$dir` (id BIGINT)")
    }
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft_ddl.`$dir` (id BIGINT)")
    assert(Versioned.latestVersion(spark, dir).contains(0))
    // first INSERT is an ordinary append commit onto the empty v0
    spark.sql(s"INSERT INTO graft_ddl.`$dir` VALUES (1, 10.0), (2, 20.0)")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_ddl.`$dir`").as[Long].head() == 2)
    // ALTER ADD: metadata-only; existing files null-backfill
    spark.sql(s"ALTER TABLE graft_ddl.`$dir` ADD COLUMNS (note STRING)")
    val widened = spark.sql(s"SELECT id, note FROM graft_ddl.`$dir` ORDER BY id")
      .as[(Long, Option[String])].collect()
    assert(widened.toSeq == Seq((1L, None), (2L, None)))
    // pre-ALTER version still serves the narrow schema
    assert(spark.sql(s"SELECT * FROM graft_ddl.`$dir` VERSION AS OF 1")
      .columns.toSeq == Seq("id", "price"))
    spark.sql(s"INSERT INTO graft_ddl.`$dir` VALUES (3, 30.0, 'hi')")
    // ALTER DROP: metadata-only; time travel keeps the column
    spark.sql(s"ALTER TABLE graft_ddl.`$dir` DROP COLUMN price")
    assert(spark.sql(s"SELECT * FROM graft_ddl.`$dir`").columns.toSeq == Seq("id", "note"))
    assert(spark.sql(s"SELECT price FROM graft_ddl.`$dir` VERSION AS OF 3 WHERE id = 1")
      .as[Double].head() == 10.0)
    // RENAME COLUMN is a metadata-only commit now (column mapping,
    // round 12 — the former refusal is retired); the deep legs live in
    // the dedicated column-mapping tests
    spark.sql(s"ALTER TABLE graft_ddl.`$dir` RENAME COLUMN note TO comment")
    assert(spark.sql(s"SELECT * FROM graft_ddl.`$dir`").columns.toSeq == Seq("id", "comment"))
    // dv-key columns cannot be metadata-dropped
    spark.sql(s"DELETE FROM graft_ddl.`$dir` WHERE id = 2")
    val dv = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_ddl.`$dir` DROP COLUMN id") }
    assert(dv.getMessage.contains("deletion vector"), dv.getMessage)
    // DROP TABLE deletes the chain root; a non-chain path refuses
    spark.sql(s"DROP TABLE graft_ddl.`$dir`")
    assert(Versioned.latestVersion(spark, dir).isEmpty)
    assert(!Versioned.dropTableChain(spark, dir))
  }

  test("SQL CTAS / RTAS: atomic staged commits; replace is a version; empty result commits metadata-only") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_ctas").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_ct", "graft.sql.VersionedCatalog")
    spark.range(0, 10).toDF("id").withColumn("price", $"id" * 2.0)
      .createOrReplaceTempView("graft_ct_src")
    // CTAS: one atomic commit — schema + data land as v0
    spark.sql(s"CREATE TABLE graft_ct.`$dir` AS SELECT * FROM graft_ct_src WHERE id < 5")
    assert(Versioned.latestVersion(spark, dir).contains(0))
    assert(spark.sql(s"SELECT id FROM graft_ct.`$dir`").as[Long].collect().toSet ==
      (0L until 5L).toSet)
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE graft_ct.`$dir` AS SELECT * FROM graft_ct_src")
    }
    // RTAS: the replace IS a version — v0 still time-travels
    spark.sql(s"CREATE OR REPLACE TABLE graft_ct.`$dir` AS " +
      "SELECT id, price FROM graft_ct_src WHERE id >= 5")
    assert(Versioned.latestVersion(spark, dir).contains(1))
    assert(spark.sql(s"SELECT id FROM graft_ct.`$dir`").as[Long].collect().toSet ==
      (5L until 10L).toSet)
    assert(spark.sql(s"SELECT id FROM graft_ct.`$dir` VERSION AS OF 0")
      .as[Long].collect().toSet == (0L until 5L).toSet)
    // REPLACE of a non-existent table refuses at analysis
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ctas2").toString + "/t"
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE graft_ct.`$dir2` AS SELECT * FROM graft_ct_src") }
    // an empty CTAS result still creates the table: metadata-only v0
    spark.sql(s"CREATE TABLE graft_ct.`$dir2` AS SELECT * FROM graft_ct_src WHERE id < 0")
    val e = spark.sql(s"SELECT * FROM graft_ct.`$dir2`")
    assert(e.columns.toSeq == Seq("id", "price") && e.count() == 0)
    // and INSERT INTO the empty table appends normally
    spark.sql(s"INSERT INTO graft_ct.`$dir2` VALUES (99, 1.0)")
    assert(spark.sql(s"SELECT id FROM graft_ct.`$dir2`").as[Long].head() == 99L)
  }

  test("SQL partitioned DDL: CREATE PARTITIONED BY + INSERT; appends match the spec; partition column undropppable") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlpart").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_pd", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_pd.`$dir` (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    // the chain is partitioned from birth: recorded spec, schema with
    // partition columns last
    assert(Versioned.versionInfo(spark, dir, 0).partitionCols == Seq("cat"))
    spark.sql(s"INSERT INTO graft_pd.`$dir` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO graft_pd.`$dir` VALUES (3, 'a')")
    assert(spark.sql(s"SELECT id FROM graft_pd.`$dir` WHERE cat = 'a'")
      .as[Long].collect().toSet == Set(1L, 3L))
    // INSERT OVERWRITE replaces state, stays partitioned
    spark.sql(s"INSERT OVERWRITE graft_pd.`$dir` VALUES (7, 'c'), (8, 'd')")
    assert(Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).partitionCols == Seq("cat"))
    assert(spark.sql(s"SELECT id FROM graft_pd.`$dir`").as[Long].collect().toSet ==
      Set(7L, 8L))
    // library read agrees (partition values re-attached from manifest)
    assert(Versioned.readLatest(spark, dir).select("cat").as[String].collect().toSet ==
      Set("c", "d"))
    // partition columns cannot be metadata-dropped
    val pc = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_pd.`$dir` DROP COLUMN cat") }
    assert(pc.getMessage.contains("partition column"), pc.getMessage)
    // ALTER ADD keeps partition columns LAST in the recorded order
    spark.sql(s"ALTER TABLE graft_pd.`$dir` ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT * FROM graft_pd.`$dir`").columns.toSeq ==
      Seq("id", "note", "cat"))
    // row-level rewrites stay partitioned: the copy-on-write
    // replacement re-lands hive-laid-out, partition VALUES intact
    spark.sql(s"UPDATE graft_pd.`$dir` SET id = id + 100 WHERE cat = 'c'")
    val vU = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, vU).partitionCols == Seq("cat"),
      "UPDATE must not downgrade the layout")
    assert(spark.sql(s"SELECT id FROM graft_pd.`$dir` WHERE cat = 'c'")
      .as[Long].collect().toSeq == Seq(107L))
    assert(Versioned.readLatest(spark, dir).select("cat").as[String]
      .collect().toSet == Set("c", "d"))
    // a NON-KEY delete (multi-column predicate) rewrites, still partitioned
    spark.sql(s"DELETE FROM graft_pd.`$dir` WHERE cat = 'd' AND id >= 0")
    assert(Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).partitionCols == Seq("cat"))
    assert(spark.sql(s"SELECT cat FROM graft_pd.`$dir`").as[String]
      .collect().toSeq == Seq("c"))
    // delete EVERYTHING via rewrite: metadata-only overwrite keeps
    // schema AND spec with zero data dirs
    spark.sql(s"DELETE FROM graft_pd.`$dir` WHERE id >= 0 AND note IS NULL")
    assert(spark.sql(s"SELECT * FROM graft_pd.`$dir`").count() == 0)
    assert(Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).partitionCols == Seq("cat"))
    // and the empty partitioned table still takes inserts
    spark.sql(s"INSERT INTO graft_pd.`$dir` VALUES (1, 'x', 'a')")
    assert(Versioned.readLatest(spark, dir).select("cat").as[String].head() == "a")
    // DV-BEARING partitioned table (loads as the masked tier): the
    // write surface must still carry the spec — INSERT INTO lands
    // partitioned, and a row-level rewrite must NOT downgrade the
    // layout (the mask tier forwards the partition columns)
    spark.sql(s"INSERT INTO graft_pd.`$dir` VALUES (2, 'y', 'b'), (3, 'z', 'b')")
    spark.sql(s"DELETE FROM graft_pd.`$dir` WHERE id = 3") // scoped dv commit
    assert(Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).scopedDvs.nonEmpty)
    spark.sql(s"INSERT INTO graft_pd.`$dir` VALUES (4, 'w', 'c')")
    spark.sql(s"UPDATE graft_pd.`$dir` SET note = 'upd' WHERE cat = 'b'")
    val vDv = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, vDv).partitionCols == Seq("cat"),
      "a rewrite through the dv tier must not downgrade the layout")
    // the FILE-GRANULAR rewrite applies the mask physically within its
    // candidate files and KEEPS the dv (it still masks untouched files)
    assert(Versioned.versionInfo(spark, dir, vDv).scopedDvs.nonEmpty,
      "a file-granular rewrite keeps the dv for the files it never touched")
    assert(spark.sql(s"SELECT id, note, cat FROM graft_pd.`$dir` ORDER BY id")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "x", "a"), (2L, "upd", "b"), (4L, "w", "c")))
    // partitioned CTAS: spec + data in one atomic commit
    val dir3 = java.nio.file.Files.createTempDirectory("graft_sqlpart3").toString + "/t"
    spark.range(0, 6).toDF("id")
      .withColumn("cat", when($"id" % 2 === 0, "even").otherwise("odd"))
      .createOrReplaceTempView("graft_pd_src")
    spark.sql(s"CREATE TABLE graft_pd.`$dir3` PARTITIONED BY (cat) AS " +
      "SELECT * FROM graft_pd_src")
    assert(Versioned.versionInfo(spark, dir3, 0).partitionCols == Seq("cat"))
    assert(spark.sql(s"SELECT id FROM graft_pd.`$dir3` WHERE cat = 'even'")
      .as[Long].collect().toSet == Set(0L, 2L, 4L))
  }

  test("CHECK constraints (library): add validates existing rows; every write validates its delta; overwrite keeps the contract; NULL passes") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_constraint").toString + "/t"
    Versioned.writeVersion(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"), dir)
    // adding a constraint the data violates refuses (nothing committed)
    val bad = intercept[IllegalArgumentException] {
      Versioned.addCheckConstraint(spark, dir, "price_big", "price > 15.0") }
    assert(bad.getMessage.contains("existing rows violate"), bad.getMessage)
    assert(Versioned.latestVersion(spark, dir).contains(0))
    // a satisfiable one commits metadata-only
    val v1 = Versioned.addCheckConstraint(spark, dir, "price_pos", "price > 0.0")
    assert(v1 == 1 && Versioned.checkConstraints(spark, dir, 1) ==
      Seq(("price_pos", "price > 0.0")))
    // a violating append refuses BEFORE the commit; no version, no orphan visible
    val viol = intercept[IllegalArgumentException] {
      Versioned.writeVersion(Seq((3L, -1.0)).toDF("id", "price"), dir,
        org.apache.spark.sql.SaveMode.Append) }
    assert(viol.getMessage.contains("price_pos"), viol.getMessage)
    assert(Versioned.latestVersion(spark, dir).contains(1))
    // a valid append lands and carries the constraint forward
    Versioned.writeVersion(Seq((3L, 30.0)).toDF("id", "price"), dir,
      org.apache.spark.sql.SaveMode.Append)
    // NULL predicate result PASSES (SQL CHECK semantics)
    Versioned.writeVersion(
      Seq((4L, Option.empty[Double])).toDF("id", "price"), dir,
      org.apache.spark.sql.SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).count() == 4)
    // an OVERWRITE keeps the contract (constraints are definition, not data) …
    val ow = intercept[IllegalArgumentException] {
      Versioned.writeVersion(Seq((9L, -5.0)).toDF("id", "price"), dir) }
    assert(ow.getMessage.contains("price_pos"))
    Versioned.writeVersion(Seq((9L, 5.0)).toDF("id", "price"), dir)
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get).map(_._1) == Seq("price_pos"))
    // … and a constrained column cannot be metadata-dropped
    val dc = intercept[IllegalArgumentException] {
      Versioned.dropColumns(spark, dir, Seq("price")) }
    assert(dc.getMessage.contains("price_pos"), dc.getMessage)
    // DROP CONSTRAINT frees the write path
    assert(Versioned.dropCheckConstraint(spark, dir, "price_pos").nonEmpty)
    Versioned.writeVersion(Seq((10L, -1.0)).toDF("id", "price"), dir,
      org.apache.spark.sql.SaveMode.Append)
    assert(Versioned.dropCheckConstraint(spark, dir, "price_pos").isEmpty) // idempotent half
  }

  test("CHECK constraints (SQL): inline CREATE, ALTER ADD/DROP CONSTRAINT, violating INSERT refused, constraints survive travel") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlcons").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_ck", "graft.sql.VersionedCatalog")
    // inline constraint at CREATE (the TableInfo path — the default
    // catalog chain would silently drop it)
    spark.sql(s"CREATE TABLE graft_ck.`$dir` (id BIGINT, price DOUBLE, " +
      "CONSTRAINT price_pos CHECK (price > 0.0))")
    assert(Versioned.checkConstraints(spark, dir, 0) == Seq(("price_pos", "price > 0.0")))
    spark.sql(s"INSERT INTO graft_ck.`$dir` VALUES (1, 10.0), (2, 20.0)")
    // violating INSERT refused; table state unchanged
    val viol = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_ck.`$dir` VALUES (3, -1.0)") }
    assert(viol.getMessage.toLowerCase.contains("price_pos") ||
      Iterator.iterate(viol: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains("price_pos")),
      viol.getMessage)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_ck.`$dir`").as[Long].head() == 2)
    // ALTER ADD CONSTRAINT validates existing rows: refusal leaves no version
    val before = Versioned.latestVersion(spark, dir).get
    val badAdd = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD CONSTRAINT price_small CHECK (price < 15.0)") }
    assert(Versioned.latestVersion(spark, dir).contains(before))
    // a satisfiable ALTER ADD lands and enforces
    spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD CONSTRAINT price_cap CHECK (price < 1000.0)")
    intercept[Exception] { spark.sql(s"INSERT INTO graft_ck.`$dir` VALUES (4, 5000.0)") }
    // DROP CONSTRAINT frees it
    spark.sql(s"ALTER TABLE graft_ck.`$dir` DROP CONSTRAINT price_cap")
    spark.sql(s"INSERT INTO graft_ck.`$dir` VALUES (4, 5000.0)")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_ck.`$dir`").as[Long].head() == 3)
    // CTAS with an inline constraint: Spark's own parser refuses it
    // before the catalog is consulted (our stage* TableInfo refusal
    // is unreachable defense-in-depth behind this)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_sqlcons2").toString + "/t"
    val ctas = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_ck.`$dir2` (CONSTRAINT c CHECK (id > 0)) AS " +
        s"SELECT * FROM graft_ck.`$dir`") }
    assert(ctas.getMessage.contains("Constraints may not be specified"), ctas.getMessage)
    // RTAS replaces the DEFINITION: the old constraints neither
    // validate the new rows (different schema must not explode) nor
    // survive into the replaced table
    spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD CONSTRAINT price_pos2 CHECK (price > 0.0)")
    spark.sql(s"CREATE OR REPLACE TABLE graft_ck.`$dir` AS VALUES (1), (2) t(n)")
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty,
      "REPLACE TABLE must not carry the old constraints")
    assert(spark.sql(s"SELECT n FROM graft_ck.`$dir`").as[Int].collect().toSet == Set(1, 2))
    // NOT ENFORCED refuses (this store enforces every stored constraint)
    val ne = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD CONSTRAINT weak CHECK (n > 0) NOT ENFORCED") }
    assert(ne.getMessage.contains("NOT ENFORCED"), ne.getMessage)
    // a multi-line predicate would corrupt the line-based manifest
    val nl = intercept[IllegalArgumentException] {
      Versioned.addCheckConstraint(spark, dir, "broken", "n >\n 0") }
    assert(nl.getMessage.contains("single-line"), nl.getMessage)
    // a data rewrite that removes EVERY row keeps the contract (the
    // metadata-only replacement carries constraints, unlike RTAS)
    spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD CONSTRAINT n_pos CHECK (n > 0)")
    spark.sql(s"DELETE FROM graft_ck.`$dir` WHERE n >= 0 AND n <= 100") // non-key → positional dv
    assert(spark.sql(s"SELECT * FROM graft_ck.`$dir`").count() == 0)
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get).map(_._1) == Seq("n_pos"),
      "a data rewrite must keep the constraints")
    intercept[Exception] { spark.sql(s"INSERT INTO graft_ck.`$dir` VALUES (-5)") }
    // batched ALTER is refuse-first: a bad second column leaves the
    // first uncommitted
    val vBefore = Versioned.latestVersion(spark, dir).get
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_ck.`$dir` ADD COLUMNS (fresh INT, n INT)") }
    assert(Versioned.latestVersion(spark, dir).contains(vBefore),
      "a failed multi-column ALTER must commit nothing")
    assert(!spark.sql(s"SELECT * FROM graft_ck.`$dir`").columns.contains("fresh"))
  }

  test("manifest parse cache: immutable manifests parse once; drop+recreate at the same path never serves the stale parse") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_mcache").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    // prime the cache through the ordinary read path
    assert(Versioned.readLatest(spark, dir).select("v").as[String].head() == "a")
    assert(Versioned.readLatest(spark, dir).select("v").as[String].head() == "a")
    // drop, then re-create a DIFFERENT table at the SAME path: the
    // new v0 manifest lives at the identical key — a stale cache
    // entry would resurrect the old file list
    assert(Versioned.dropTableChain(spark, dir))
    Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(Versioned.readLatest(spark, dir).select("v").as[String].head() == "b")
    // prune evicts too: the pruned version's manifest is gone from
    // cache as well as disk
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir)
    Versioned.pruneVersions(spark, dir, keepLast = 1)
    intercept[Exception] { Versioned.readVersion(spark, dir, 0).collect() }
  }

  test("SQL CALL procedures: compact_dv / zorder / restore / vacuum / maintain wrap the library maintenance verbatim") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlcall").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_pr", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(spark.range(0, 100).toDF("id")
      .withColumn("k", $"id" % 10), dir)
    // three deletes → three dv dirs; CALL compact_dv merges to one
    Seq(1L, 2L, 3L).foreach(k =>
      Versioned.deleteByKeys(spark, dir, Seq(k).toDF("id"), "id"))
    assert(Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).dvDirs.head._2.length == 3)
    val cv = spark.sql(s"CALL graft_pr.system.compact_dv(table => '$dir')")
    assert(cv.columns.toSeq == Seq("version") && cv.as[Int].head() == 4)
    assert(Versioned.versionInfo(spark, dir, 4).dvDirs.head._2.length == 1)
    // idempotent second call returns NULL (nothing to merge)
    assert(spark.sql(s"CALL graft_pr.system.compact_dv('$dir')")
      .as[Option[Int]].head().isEmpty)
    // zorder commits a rewrite; the mask applied physically on the way
    val zv = spark.sql(
      s"CALL graft_pr.system.zorder('$dir', 'id', 'k', 2)").as[Int].head()
    assert(Versioned.versionInfo(spark, dir, zv).dvDirs.isEmpty)
    assert(Versioned.readLatest(spark, dir).count() == 97)
    // restore: back to the pre-delete state as a NEW version
    val rv = spark.sql(s"CALL graft_pr.system.restore('$dir', 0)").as[Int].head()
    assert(rv == zv + 1 && Versioned.readLatest(spark, dir).count() == 100)
    // restore_at: a far-future timestamp resolves to the newest
    // version; an impossible past refuses naming the problem
    val rAt = spark.sql(s"CALL graft_pr.system.restore_at('$dir', " +
      s"${System.currentTimeMillis() + 60000})").collect().head
    assert(rAt.getInt(0) == rv + 1 && rAt.getInt(1) == rv, rAt.toString)
    val tooEarly = intercept[Exception] {
      spark.sql(s"CALL graft_pr.system.restore_at('$dir', 0)") }
    assert(Iterator.iterate(tooEarly: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("at or before")),
      tooEarly.getMessage)
    // dry-run vacuum: the same report, NOTHING touched
    val dry = spark.sql(s"CALL graft_pr.system.vacuum(table => '$dir', " +
      "keep_last => 2, orphan_min_age_ms => 0, dry_run => true)").collect().head
    assert(dry.getInt(0) == rv, dry.toString)
    assert(Versioned.versions(spark, dir).length == rv + 2,
      "dry run must not drop versions")
    // vacuum through SQL: retention drops expired manifests
    val pruned = spark.sql(s"CALL graft_pr.system.vacuum(table => '$dir', " +
      "keep_last => 2, orphan_min_age_ms => 0)").collect().head
    assert(pruned.getInt(0) == rv, pruned.toString) // dropped all but 2
    assert(Versioned.versions(spark, dir) == Seq(rv, rv + 1))
    // maintain = compact_dv + retention in one call
    val m = spark.sql(s"CALL graft_pr.system.maintain('$dir', 1)").collect().head
    assert(m.isNullAt(0) && m.getInt(1) == 1, m.toString)
    // fragmentation-gated compaction inside maintain: a table of 8
    // tiny files (ideal = 1 at any sane target) compacts on the first
    // tick; the now-healthy table's second tick rewrites NOTHING
    val fdir = java.nio.file.Files.createTempDirectory("graft_maintfrag").toString + "/t"
    Versioned.writeVersion(spark.range(0, 1000).toDF("id").repartition(8), fdir)
    val mm = spark.sql(s"CALL graft_pr.system.maintain('$fdir', 5, " +
      s"compact_target_bytes => ${64L * 1024 * 1024})").collect().head
    assert(mm.getInt(3) == 8 && mm.getInt(4) == 1, mm.toString)
    val mm2 = spark.sql(s"CALL graft_pr.system.maintain('$fdir', 5, " +
      s"compact_target_bytes => ${64L * 1024 * 1024})").collect().head
    assert(mm2.isNullAt(3), s"healthy table must not rewrite: $mm2")
    assert(Versioned.readLatest(spark, fdir).count() == 1000)
    // a NULL argument is a caller mistake, never a default — the
    // primitive getter would silently read 0 and disable the
    // in-flight-writer age guard
    val nul = intercept[Exception] {
      spark.sql(s"CALL graft_pr.system.vacuum(table => '$dir', keep_last => 1, " +
        "orphan_min_age_ms => NULL)") }
    assert(Iterator.iterate(nul: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("must not be NULL")),
      nul.getMessage)
    // whole-table OPTIMIZE on a PARTITIONED chain routes through the
    // spec-keeping partition-shaped rewrite (Delta's OPTIMIZE works on
    // partitioned tables; until round 11 this refused)
    val pdir = java.nio.file.Files.createTempDirectory("graft_callpart").toString + "/t"
    Versioned.writeVersionPartitioned(
      spark.range(0, 100).toDF("id")
        .withColumn("cat", when($"id" % 2 === 0, "a").otherwise("b"))
        .repartition(4), pdir, Seq("cat"))
    assert(Versioned.allLiveFilesMap(spark, pdir, 0).valuesIterator.map(_.size).sum == 8)
    val zp = spark.sql(s"CALL graft_pr.system.zorder('$pdir', 'id', 'id', 2)")
      .as[Int].head()
    assert(zp == 1)
    // the spec survives and the state is intact
    assert(Versioned.versionInfo(spark, pdir, zp).partitionCols == Seq("cat"))
    assert(Versioned.readLatest(spark, pdir).count() == 100)
    val cp = spark.sql(s"CALL graft_pr.system.compact_files('$pdir')").collect().head
    val vAfter = Versioned.latestVersion(spark, pdir).get
    assert(Versioned.versionInfo(spark, pdir, vAfter).partitionCols == Seq("cat"))
    assert(cp.getInt(1) <= cp.getInt(0), cp.toString)
    assert(Versioned.readLatest(spark, pdir)
      .groupBy("cat").count().orderBy("cat").as[(String, Long)].collect().toSeq ==
      Seq(("a", 50L), ("b", 50L)))
    // DESCRIBE HISTORY over CALL: one row per surviving version, the
    // same shape the library history() serves
    val h = spark.sql(s"CALL graft_pr.system.history('$dir')").collect()
    assert(h.length == Versioned.versions(spark, dir).length &&
      h.map(_.getInt(0)).toSeq == Versioned.versions(spark, dir), h.mkString(";"))
    // unknown procedure refuses at load (Spark wraps it as
    // FAILED_TO_LOAD_ROUTINE; our cause names the available set)
    val bad = intercept[Exception] { spark.sql(s"CALL graft_pr.system.nope('$dir')") }
    assert(bad.getMessage.contains("nope"), bad.getMessage)
    assert(Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("compact_dv")),
      "cause chain should name the available procedures")
  }

  test("SQL CALL procedures: zorder_incremental / enable_row_tracking / drop_feature wrap the round-16 surface; detail counts positional dvs") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.{Maintenance, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlcall16").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_p16", "graft.sql.VersionedCatalog")
    def slice(from: Long, until: Long, parts: Int) =
      spark.range(from, until)
        .select($"id".as("a"), (($"id" * 7919) % 1000).as("b"))
        .repartition(parts)
    Versioned.writeVersion(slice(0, 2000, 4), dir)
    Maintenance.zorderVersionedCols(spark, dir, Seq("a", "b"), nFiles = 4)
    // nothing unclustered yet: NULL row, not zero rows (CALL is tabular)
    val idle = spark.sql(
      s"CALL graft_p16.system.zorder_incremental('$dir', 'a,b')").collect()
    assert(idle.length == 1 && idle.head.isNullAt(0), idle.mkString(";"))
    Versioned.writeVersion(slice(2000, 2500, 2), dir, SaveMode.Append)
    val inc = spark.sql(s"CALL graft_p16.system.zorder_incremental(" +
      s"table => '$dir', cols => 'a,b', n_files => 1)").collect().head
    assert(inc.getInt(0) == 2 && inc.getLong(1) > 0L, inc.toString)
    assert(inc.getInt(2) == Versioned.latestVersion(spark, dir).get)
    assert(Versioned.isRearrange(spark, dir, inc.getInt(2)))
    assert(Versioned.readLatest(spark, dir).count() == 2500)
    // enable_row_tracking returns the backfill version; ids are live
    val rtv = spark.sql(
      s"CALL graft_p16.system.enable_row_tracking('$dir')").as[Int].head()
    assert(rtv == Versioned.latestVersion(spark, dir).get)
    val ids = Versioned.readLatest(spark, dir)
      .select(Versioned.RowIdCol).as[Long].collect()
    assert(ids.length == 2500 && ids.toSet.size == 2500)
    // a positional DELETE shows up in detail's dv count…
    Versioned.deleteWhere(spark, dir, "b < 10")
    val det = spark.sql(s"CALL graft_p16.system.detail('$dir')").collect().head
    assert(det.getInt(det.fieldIndex("num_dv_dirs")) == 1, det.toString)
    // …and drop_feature refuses while that mask is live, by name
    val eLive = intercept[Exception] {
      spark.sql(s"CALL graft_p16.system.drop_feature('$dir', 'pdv')") }
    assert(eLive.getMessage.contains("still live"), eLive.getMessage)
    Maintenance.compact(spark, dir, targetFileBytes = Long.MaxValue,
      store = graft.ext.ManifestStore)
    val dv = spark.sql(
      s"CALL graft_p16.system.drop_feature('$dir', 'pdv')").as[Int].head()
    assert(dv == Versioned.latestVersion(spark, dir).get)
    // idempotent second drop: NULL (never declared any more)
    assert(spark.sql(s"CALL graft_p16.system.drop_feature('$dir', 'pdv')")
      .as[Option[Int]].head().isEmpty)
  }

  test("txn watermarks survive Overwrite commits: a maintenance rewrite never re-opens the exactly-once window") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_txncarry").toString + "/t"
    // a streaming sink commits epoch 3 …
    assert(Versioned.writeVersionStreamBatch(Seq((1L, "a")).toDF("id", "v"),
      dir, appId = "ckpt-A", batchId = 3L).contains(0))
    // … then maintenance overwrites the table (compaction / INSERT
    // OVERWRITE / UPDATE rewrite all land here)
    Versioned.writeVersion(Seq((2L, "b")).toDF("id", "v"), dir, SaveMode.Overwrite)
    assert(Versioned.lastCommittedBatch(spark, dir, "ckpt-A").contains(3L),
      "overwrite must carry the watermark — dropping it re-opens the replay window")
    // a checkpoint-recovery replay of epoch 3 AFTER the overwrite is
    // still detected and skipped (the pre-fix behavior duplicated it)
    assert(Versioned.writeVersionStreamBatch(Seq((1L, "a")).toDF("id", "v"),
      dir, appId = "ckpt-A", batchId = 3L).isEmpty)
    assert(Versioned.readLatest(spark, dir).count() == 1)
    // a genuinely new epoch still lands, replacing only ITS watermark
    assert(Versioned.writeVersionStreamBatch(Seq((3L, "c")).toDF("id", "v"),
      dir, appId = "ckpt-A", batchId = 4L).nonEmpty)
    assert(Versioned.lastCommittedBatch(spark, dir, "ckpt-A").contains(4L))
    // zorder (writeVersionWith overwrite) keeps it too
    graft.ext.Maintenance.zorderVersioned(spark, dir, "id", "id", 1)
    assert(Versioned.lastCommittedBatch(spark, dir, "ckpt-A").contains(4L))
  }

  test("SQL truncate of a PARTITIONED chain keeps the spec (and constraints): later inserts land partitioned") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_parttrunc").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_pt", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_pt.`$dir` (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql(s"ALTER TABLE graft_pt.`$dir` ADD CONSTRAINT pos CHECK (id > 0)")
    spark.sql(s"INSERT INTO graft_pt.`$dir` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"DELETE FROM graft_pt.`$dir`") // bare truncate
    val v = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, v).partitionCols == Seq("cat"),
      "truncate dropped the partition spec — the layout downgrade the fix guards")
    assert(Versioned.checkConstraints(spark, dir, v).map(_._1) == Seq("pos"),
      "truncate is a DATA change; the table's contract survives it")
    assert(spark.sql(s"SELECT * FROM graft_pt.`$dir`").count() == 0)
    // the next insert lands hive-laid-out and partition-prunes
    spark.sql(s"INSERT INTO graft_pt.`$dir` VALUES (3, 'c'), (4, 'd')")
    val v2 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, v2).partitionCols == Seq("cat"))
    assert(spark.sql(s"SELECT id FROM graft_pt.`$dir` WHERE cat = 'c'")
      .as[Long].collect().toSeq == Seq(3L))
    // and the constraint still refuses plan-side
    val bad = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_pt.`$dir` VALUES (-1, 'x')") }
    assert(bad.getMessage != null)
  }

  test("ALTER TABLE is atomic: a statement with a refusing change commits NOTHING") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_alteratomic").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_aa", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_aa.`$dir` (id BIGINT, x INT, cat STRING) PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO graft_aa.`$dir` VALUES (1, 7, 'a')")
    val v0 = Versioned.latestVersion(spark, dir).get
    // one statement, two drops: x (droppable) + cat (partition column,
    // refuses). The per-group commit shape dropped x durably before
    // the refusal; atomic means neither happens.
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_aa.`$dir` DROP COLUMNS (x, cat)") }
    assert(Versioned.latestVersion(spark, dir).contains(v0),
      "refused ALTER must not commit any version")
    assert(Versioned.readLatest(spark, dir).columns.contains("x"),
      "refused ALTER must not half-apply the droppable column")
    // library form: adds + a constraint the EXISTING rows violate —
    // the validation fires before any commit, so the column add must
    // not survive the refusal
    intercept[Exception] {
      Versioned.alterTableAtomic(spark, dir, Versioned.AlterSpec(
        addCols = Seq(org.apache.spark.sql.types.StructField("y",
          org.apache.spark.sql.types.IntegerType)),
        addChecks = Seq(("impossible", "id > 100")))) }
    assert(Versioned.latestVersion(spark, dir).contains(v0))
    assert(!Versioned.readLatest(spark, dir).columns.contains("y"))
    // dropping a constraint AND the column it reads in ONE statement
    // is legal (the guard considers the post-alter constraint set)
    spark.sql(s"ALTER TABLE graft_aa.`$dir` ADD CONSTRAINT xpos CHECK (x > 0)")
    assert(Versioned.alterTableAtomic(spark, dir, Versioned.AlterSpec(
      dropCols = Seq("x"), dropChecks = Seq(("xpos", false)))).nonEmpty)
    assert(!Versioned.readLatest(spark, dir).columns.contains("x"))
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)
  }

  test("manifests are O(delta): appends write increments, checkpoints bound the chain, prune snaps to a checkpoint") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_deltaman").toString + "/t"
    def manifestBytes(v: Int): Long =
      java.nio.file.Files.size(java.nio.file.Paths.get(f"$dir/_versions/$v%08d.manifest"))
    def firstLine(v: Int): String =
      scala.io.Source.fromFile(f"$dir/_versions/$v%08d.manifest").getLines().next()
    // v0: an 8-file base commit (full manifest, 8 stats entries)
    Versioned.writeVersion(spark.range(0, 200).toDF("id").repartition(8), dir)
    assert(!firstLine(0).startsWith("parent:"))
    // v1..v9: single-row appends — each manifest is an INCREMENT
    (1 to 9).foreach(i =>
      Versioned.appendVersionWithRetry(
        spark.range(1000L + i, 1001L + i).toDF("id").repartition(1), dir))
    assert(firstLine(1) == "parent:0" && firstLine(9) == "parent:8")
    // the commit's metadata write does NOT grow with the table: the
    // 9th append (table now 16 files) writes no more than the 1st
    assert(manifestBytes(9) <= manifestBytes(1) * 3 / 2,
      s"delta commit grew with the table: v1=${manifestBytes(1)}B v9=${manifestBytes(9)}B")
    assert(manifestBytes(1) < manifestBytes(0),
      s"an append increment (${manifestBytes(1)}B) should be smaller than the 8-file base (${manifestBytes(0)}B)")
    // v10: the manifest stays a tiny delta, and the PERIODIC
    // CHECKPOINT SIDECAR (interval 10) lands beside it — the
    // resolution chain is bounded without ever writing a big manifest
    Versioned.appendVersionWithRetry(spark.range(2000, 2001).toDF("id"), dir)
    assert(firstLine(10) == "parent:9")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_versions/00000010.checkpoint")))
    // every version resolves correctly through the chain
    assert(Versioned.readVersion(spark, dir, 0).count() == 200)
    assert(Versioned.readVersion(spark, dir, 5).count() == 205)
    assert(Versioned.readLatest(spark, dir).count() == 210)
    assert(Versioned.recordedSchema(spark, dir, 9).nonEmpty,
      "delta resolution must inherit the parent's schema line")
    // deletes and schema changes are increments too
    Versioned.deleteByKeys(spark, dir, Seq(1001L).toDF("id"), "id") // v11
    assert(firstLine(11) == "parent:10")
    Versioned.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType))) // v12
    assert(firstLine(12) == "parent:11")
    assert(Versioned.readLatest(spark, dir).count() == 209)
    assert(Versioned.readLatest(spark, dir).columns.contains("extra"))
    // prune keeps its EXACT keepLast contract: the boundary version
    // (v12, a delta) gets its checkpoint sidecar materialized BEFORE
    // its parents are reclaimed, so it stays resolvable alone
    val pruned = Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0)
    assert(pruned.versionsDropped == (0 to 11), pruned.versionsDropped.toString)
    assert(Versioned.versions(spark, dir) == Seq(12))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_versions/00000012.checkpoint")))
    assert(Versioned.readLatest(spark, dir).count() == 209)
    assert(Versioned.readLatest(spark, dir).columns.contains("extra"))
    // restoring a version writes its RESOLVED state as a full
    // manifest, so the restore never depends on the chain it came from
    val rv = Versioned.restoreVersion(spark, dir, 12)
    assert(!firstLine(rv).startsWith("parent:"))
    Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0)
    assert(Versioned.versions(spark, dir) == Seq(rv))
    assert(Versioned.readLatest(spark, dir).count() == 209)
  }

  test("file-granular copy-on-write: selective UPDATE/DELETE rewrite only candidate files; untouched files verbatim; disjoint commits commute") {
    withCow {
    import graft.ext.Versioned
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val dir = java.nio.file.Files.createTempDirectory("graft_filecow").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_fg", "graft.sql.VersionedCatalog")
    // 4 files with DISJOINT id ranges: per-file stats can prove 3 of
    // them untouched by a selective predicate
    Versioned.writeVersion(spark.range(0, 400).toDF("id")
      .withColumn("price", $"id" * 1.0)
      .repartitionByRange(4, $"id").sortWithinPartitions("id"), dir)
    def files(v: Int): Set[String] =
      Versioned.planDataFiles(spark, dir, v, Seq.empty).toSet
    val before = files(0)
    assert(before.size == 4)
    // UPDATE one key: the row-level scan's group is the ONE file whose
    // bounds admit id=5; the commit removes it and adds its rewrite —
    // the other three files ride through BY NAME
    spark.sql(s"UPDATE graft_fg.`$dir` SET price = 0.0 WHERE id = 5")
    assert(Versioned.latestVersion(spark, dir).contains(1))
    val after = files(1)
    assert((before -- after).size == 1, s"expected 1 file rewritten, lost ${(before -- after).size}")
    assert((before intersect after).size == 3, "untouched files must carry VERBATIM")
    val got = spark.sql(s"SELECT id, price FROM graft_fg.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 400 && got(5L) == 0.0 && got(6L) == 6.0 && got(399L) == 399.0)
    // the commit is an O(touched) increment, and travel still works
    assert(scala.io.Source.fromFile(s"$dir/_versions/00000001.manifest")
      .getLines().next() == "parent:0")
    assert(spark.sql(s"SELECT price FROM graft_fg.`$dir` VERSION AS OF 0 WHERE id = 5")
      .as[Double].head() == 5.0)
    // non-key DELETE (range predicate) → a POSITIONAL deletion
    // vector: the data-file list is untouched (the masked rows live
    // on for time travel), one sidecar line carries the positions
    spark.sql(s"DELETE FROM graft_fg.`$dir` WHERE id >= 300 AND price >= 0.0")
    val afterDel = files(Versioned.latestVersion(spark, dir).get)
    assert(afterDel == after,
      s"a positional DELETE must not touch the data-file list: $after vs $afterDel")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_fg.`$dir`").as[Long].head() == 300)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_fg.`$dir` VERSION AS OF 1")
      .as[Long].head() == 400, "pre-delete versions still serve the rows")
    // library seam: a rewrite captured BEFORE a disjoint append still
    // commits (file-granular commits commute where the old whole-table
    // overwrite surfaced a lost race)
    val v = Versioned.latestVersion(spark, dir).get
    val cand = Versioned.rowLevelCandidateFiles(spark, dir, v,
      Seq(EqualTo("id", 10L))).get
    assert(cand.values.map(_.size).sum == 1)
    // the snapshot carries the positional dv the DELETE just landed
    val dvSnap = Versioned.versionInfo(spark, dir, v).posDvs
      .map(d => (Versioned.PdvSnapshotKey, d))
    Versioned.writeVersion(spark.range(1000, 1100).toDF("id")
      .withColumn("price", lit(0.0)), dir, org.apache.spark.sql.SaveMode.Append)
    val committed = Versioned.commitFileRewrite(spark, dir, cand, None, Seq.empty, dvSnap)
    assert(committed.contains(v + 2), s"disjoint append must commute, got $committed")
    val n = spark.sql(s"SELECT count(*) AS c FROM graft_fg.`$dir`").as[Long].head()
    assert(n == 300 + 100 - 100, s"rewrite dropped its candidate file's rows, appends kept: $n")
    // conflicts SURFACE: (a) a candidate file rewritten concurrently
    val v2 = Versioned.latestVersion(spark, dir).get
    val stale = Versioned.rowLevelCandidateFiles(spark, dir, v2,
      Seq(GreaterThanOrEqual("id", 1000L))).get
    Versioned.commitFileRewrite(spark, dir, stale, None, Seq.empty, dvSnap) // someone else wins
    val exA = intercept[IllegalStateException] {
      Versioned.commitFileRewrite(spark, dir, stale, None, Seq.empty, dvSnap) }
    assert(exA.getMessage.contains("stale"), exA.getMessage)
    // (b) the deletion-vector set changed since the scan
    val v3 = Versioned.latestVersion(spark, dir).get
    val cand3 = Versioned.rowLevelCandidateFiles(spark, dir, v3,
      Seq(EqualTo("id", 150L))).get
    Versioned.deleteByKeys(spark, dir, Seq(151L).toDF("id"), "id")
    val exB = intercept[IllegalStateException] {
      Versioned.commitFileRewrite(spark, dir, cand3, None, Seq.empty, dvSnap) }
    assert(exB.getMessage.contains("deletion-vector"), exB.getMessage)
    }
  }

  test("file-granular copy-on-write on PARTITIONED chains: other partitions' files verbatim, replacement re-lands hive-laid-out") {
    withCow {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_filecowp").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_fgp", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_fgp.`$dir` (id BIGINT, price DOUBLE, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO graft_fgp.`$dir` " +
      "SELECT id, CAST(id AS DOUBLE), CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END " +
      "FROM range(100)")
    val v0 = Versioned.latestVersion(spark, dir).get
    def files(v: Int): Set[String] =
      Versioned.planDataFiles(spark, dir, v, Seq.empty).toSet
    val before = files(v0)
    // partition-column predicate: candidates come from the per-file
    // partition-value stats, so partition 'b' files carry verbatim
    spark.sql(s"UPDATE graft_fgp.`$dir` SET price = -1.0 WHERE cat = 'a'")
    val v1 = Versioned.latestVersion(spark, dir).get
    val after = files(v1)
    val bFiles = before.filter(_.contains("cat=b"))
    assert(bFiles.subsetOf(after), "partition b's files must ride through verbatim")
    assert(before.filter(_.contains("cat=a")).forall(f => !after.contains(f)),
      "partition a's files must all be replaced")
    assert(after.exists(f => !before.contains(f) && f.contains("cat=a")),
      "the replacement must re-land hive-laid-out under cat=a")
    assert(Versioned.versionInfo(spark, dir, v1).partitionCols == Seq("cat"))
    val got = spark.sql(s"SELECT id, price FROM graft_fgp.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 100 && got(2L) == -1.0 && got(3L) == 3.0)
    // partition pruning still serves the rewritten chain
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_fgp.`$dir` WHERE cat = 'a'")
      .as[Long].head() == 50)
    // and appends keep landing partitioned after the rewrite
    spark.sql(s"INSERT INTO graft_fgp.`$dir` VALUES (200, 1.0, 'c')")
    assert(spark.sql(s"SELECT id FROM graft_fgp.`$dir` WHERE cat = 'c'")
      .as[Long].collect().toSeq == Seq(200L))
    }
  }

  test("SQL DELETE is statement-scoped; library deleteByKeys is key-level: a re-insert is visible after one, masked after the other") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_dvscope").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_sc", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(spark.range(0, 20).toDF("id")
      .withColumn("v", concat(lit("r"), $"id")), dir)
    // SQL DELETE: removes the rows that exist NOW
    spark.sql(s"DELETE FROM graft_sc.`$dir` WHERE id = 5")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_sc.`$dir`").as[Long].head() == 19)
    // … so a later INSERT of the same key is VISIBLE (the reference's
    // SQL DELETE semantics; pre-fix the key-level mask silently hid it)
    spark.sql(s"INSERT INTO graft_sc.`$dir` VALUES (5, 'again')")
    assert(spark.sql(s"SELECT v FROM graft_sc.`$dir` WHERE id = 5")
      .as[String].collect().toSeq == Seq("again"),
      "a row inserted AFTER a SQL DELETE must be visible")
    // the library's unscoped mask keeps the ERASURE contract: the key
    // stays masked through re-appends until a physical rewrite
    Versioned.deleteByKeys(spark, dir, Seq(7L).toDF("id"), "id")
    Versioned.writeVersion(Seq((7L, "back")).toDF("id", "v"), dir, SaveMode.Append)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_sc.`$dir` WHERE id = 7")
      .as[Long].head() == 0, "the erasure mask must survive re-appends")
    assert(Versioned.readLatest(spark, dir).filter($"id" === 7).isEmpty)
    // both masks compose on one read path, library and SQL alike
    val ids = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
    assert(ids == (0L until 20L).toSet - 7L)
    // time travel to the pre-delete state still serves both rows
    assert(spark.sql(s"SELECT id FROM graft_sc.`$dir` VERSION AS OF 0")
      .as[Long].collect().toSet == (0L until 20L).toSet)
    // a physical rewrite (zorder) applies BOTH masks and drops them
    graft.ext.Maintenance.zorderVersioned(spark, dir, "id", "id", 2)
    val vz = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, vz).dvDirs.isEmpty &&
      Versioned.versionInfo(spark, dir, vz).scopedDvs.isEmpty)
    assert(Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet ==
      (0L until 20L).toSet - 7L)
  }

  test("manifest cache keys are path-normalized: a drop through one path spelling evicts the other") {
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_cachekey").toString + "/t"
    Versioned.writeVersion(Seq((1L, "old")).toDF("id", "v"), root)
    // fill the cache through the PLAIN spelling
    assert(Versioned.readLatest(spark, root).select("v").as[String].head() == "old")
    // drop through the scheme-QUALIFIED spelling of the same table
    assert(Versioned.dropTableChain(spark, s"file:$root"))
    // recreate at the same path; v0's manifest path string (plain
    // spelling) is identical to the dropped one — an unnormalized
    // cache would serve the deleted version's parse
    Versioned.writeVersion(Seq((2L, "new")).toDF("id", "v"), root)
    assert(Versioned.readLatest(spark, root).select("v").as[String].head() == "new",
      "stale cached parse served after a drop through an equivalent path spelling")
  }

  test("NOT NULL constraints: enforced at the plan seam, the library commit seam, and ALTER; dropped with the column; versioned like everything else") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_notnull").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_nn", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_nn.`$dir` (id BIGINT NOT NULL, v STRING)")
    assert(Versioned.notNullColumns(spark, dir, 0) == Seq("id"))
    // the catalog serves the real contract: id reports non-nullable
    assert(!spark.table(s"graft_nn.`$dir`").schema("id").nullable)
    // plan-side: a violating SQL INSERT refuses (ANSI store assignment
    // injects the runtime null check against the non-nullable column)
    spark.sql(s"INSERT INTO graft_nn.`$dir` VALUES (1, 'a'), (2, NULL)")
    val planSide = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_nn.`$dir` VALUES (CAST(NULL AS BIGINT), 'x')") }
    assert(Iterator.iterate(planSide: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && (t.getMessage.contains("NULL")
        || t.getMessage.contains("null"))), planSide.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM graft_nn.`$dir`").as[Long].head() == 2)
    // library commit seam: an append whose rows hold a null refuses
    // from footer stats alone, and the bad dir never becomes a version
    val libNull = intercept[Exception] {
      Versioned.writeVersion(Seq((java.lang.Long.valueOf(3L), "c"), (null.asInstanceOf[java.lang.Long], "d"))
        .toDF("id", "v"), dir, SaveMode.Append) }
    assert(libNull.getMessage.contains("NOT NULL"), libNull.getMessage)
    // … and so does an append whose files LACK the column entirely
    // (the union-schema read would null-backfill it)
    val libMissing = intercept[Exception] {
      Versioned.writeVersion(Seq("e").toDF("v"), dir, SaveMode.Append) }
    assert(libMissing.getMessage.contains("NOT NULL"), libMissing.getMessage)
    // SET NOT NULL on a column with existing nulls refuses — served as
    // a CALL (Spark's own ALTER COLUMN analysis categorically refuses
    // the nullable->non-nullable direction for v2 catalogs) …
    val dirty = intercept[Exception] {
      spark.sql(s"CALL graft_nn.system.set_not_null('$dir', 'v')") }
    assert(Iterator.iterate(dirty: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("SET NOT NULL")),
      dirty.getMessage)
    // … clean the rows, and the same call lands as one metadata commit
    spark.sql(s"UPDATE graft_nn.`$dir` SET v = 'fixed' WHERE v IS NULL")
    spark.sql(s"CALL graft_nn.system.set_not_null('$dir', 'v')")
    val vSet = Versioned.latestVersion(spark, dir).get
    assert(Versioned.notNullColumns(spark, dir, vSet).sorted == Seq("id", "v"))
    val vNull = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_nn.`$dir` VALUES (4, CAST(NULL AS STRING))") }
    assert(Iterator.iterate(vNull: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && (t.getMessage.contains("NULL")
        || t.getMessage.contains("null"))), vNull.getMessage)
    // an overwrite carries the contract (table definition, not data)
    spark.sql(s"INSERT OVERWRITE graft_nn.`$dir` VALUES (10, 'z')")
    assert(Versioned.notNullColumns(spark, dir,
      Versioned.latestVersion(spark, dir).get).sorted == Seq("id", "v"))
    // DROP NOT NULL re-opens the column; the insert that refused lands
    spark.sql(s"ALTER TABLE graft_nn.`$dir` ALTER COLUMN v DROP NOT NULL")
    spark.sql(s"INSERT INTO graft_nn.`$dir` VALUES (4, CAST(NULL AS STRING))")
    assert(spark.sql(s"SELECT count(*) FROM graft_nn.`$dir` WHERE v IS NULL")
      .as[Long].head() == 1)
    // DROP COLUMN takes its NOT NULL line with it (one atomic statement);
    // the standalone library drop refuses instead (it cannot remove the line)
    val libDrop = intercept[Exception] { Versioned.dropColumns(spark, dir, Seq("id")) }
    assert(libDrop.getMessage.contains("NOT NULL"), libDrop.getMessage)
    spark.sql(s"ALTER TABLE graft_nn.`$dir` DROP COLUMN id")
    val vDropped = Versioned.latestVersion(spark, dir).get
    assert(Versioned.notNullColumns(spark, dir, vDropped).isEmpty)
    // time travel: the pre-ALTER version still carries the contract
    assert(Versioned.notNullColumns(spark, dir, vSet).sorted == Seq("id", "v"))
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION: a new source column widens the target as one metadata commit; plain MERGE stays strict") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_mergeevo").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_me", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"), dir)
    Seq((2L, 25.0, "upd"), (3L, 30.0, "new")).toDF("id", "price", "note")
      .createOrReplaceTempView("src_me")
    // plain MERGE referencing the unknown column refuses — evolution
    // requires the explicit clause even with the capability declared
    val strict = intercept[Exception] {
      spark.sql(s"""MERGE INTO graft_me.`$dir` t USING src_me s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET price = s.price, note = s.note
        |WHEN NOT MATCHED THEN INSERT (id, price, note) VALUES (s.id, s.price, s.note)
        |""".stripMargin) }
    assert(strict.getMessage.toLowerCase.contains("note"), strict.getMessage)
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft_me.`$dir` t USING src_me s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET price = s.price, note = s.note
      |WHEN NOT MATCHED THEN INSERT (id, price, note) VALUES (s.id, s.price, s.note)
      |""".stripMargin)
    val got = spark.sql(s"SELECT id, price, note FROM graft_me.`$dir` ORDER BY id")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(got == Seq((1L, 10.0, None), (2L, 25.0, Some("upd")), (3L, 30.0, Some("new"))),
      got.toString)
    // the widening was its own metadata-only commit: the version chain
    // carries create → evolve (ALTER) → merge rewrite, and time travel
    // to the pre-merge schema still serves two columns
    val vs = Versioned.versions(spark, dir)
    assert(vs.length == 3, vs.toString)
    assert(Versioned.recordedSchema(spark, dir, 0).get.fieldNames.toSeq ==
      Seq("id", "price"))
    assert(Versioned.recordedSchema(spark, dir, 1).get.fieldNames.toSeq ==
      Seq("id", "price", "note"))
  }

  test("partition-scoped OPTIMIZE: zorder WHERE rewrites only the matching partition; other partitions' files verbatim; pruning improves inside the target") {
    import org.apache.spark.sql.sources._
    import graft.ext.{Maintenance, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_pzorder").toString + "/t"
    // two partitions, each 4096 grid points hash-scattered into 4
    // files: inside each partition every file spans both columns' full
    // ranges, so nothing prunes pre-optimize
    val df = spark.range(0, 8192).toDF("id")
      .withColumn("p", when($"id" % 2 === 0, "x").otherwise("y"))
      .withColumn("a", ($"id" / 2) % 64)
      .withColumn("b", ($"id" / 2) / 64)
    Versioned.writeVersionPartitioned(df.repartition(4), dir, Seq("p"))
    def filesOf(v: Int, part: String) =
      Versioned.partitionScopedFiles(spark, dir, v, s"p = '$part'")
    def planned(v: Int, fs: Filter*) = Versioned.planDataFiles(spark, dir, v, fs.toSeq)
    assert(filesOf(0, "x").valuesIterator.map(_.size).sum == 4)
    assert(planned(0, EqualTo("p", "x"), LessThan("b", 8L)).length == 4,
      "scattered layout must not prune")
    val yBefore = filesOf(0, "y")
    // a dv rides along: the scoped rewrite reads MASKED, so the
    // optimized partition drops the masked rows physically while the
    // carried dv keeps masking the untouched partition
    Versioned.deleteByKeys(spark, dir, Seq(0L, 1L).toDF("id"), "id")
    val v2 = Maintenance.zorderVersionedWhere(spark, dir, "p = 'x'", "a", "b",
      nFiles = 4, bits = 6)
    assert(v2.contains(2))
    // partition y's files carry VERBATIM (same dir, same names)
    assert(filesOf(2, "y") == yBefore, "non-matching partition must carry verbatim")
    // inside x, the same predicate now prunes — on either column
    assert(planned(2, EqualTo("p", "x"), LessThan("b", 8L)).length < 4)
    assert(planned(2, EqualTo("p", "x"), LessThan("a", 8L)).length < 4)
    // content preserved exactly: the two deleted ids (0 in x, 1 in y)
    // stay gone — physically in x, by the carried mask in y
    assert(Versioned.versionInfo(spark, dir, 2).dvDirs.nonEmpty)
    assert(Versioned.readLatest(spark, dir).count() == 8190)
    assert(Versioned.readLatest(spark, dir)
      .groupBy("p").count().orderBy("p").as[(String, Long)].collect().toSeq ==
      Seq(("x", 4095L), ("y", 4095L)))
    // the predicate is required to be partition-only and non-trivial
    val badCol = intercept[Exception] {
      Maintenance.zorderVersionedWhere(spark, dir, "a < 5", "a", "b", 4) }
    assert(badCol.getMessage.contains("partition columns"), badCol.getMessage)
    // a predicate matching nothing commits nothing
    assert(Maintenance.zorderVersionedWhere(spark, dir, "p = 'zzz'", "a", "b", 4).isEmpty)
    // time travel to the pre-optimize layout still serves
    assert(Versioned.readVersion(spark, dir, 1).count() == 8190)

    // CALL surface: compact_files with where => merges one partition's
    // small files; the other partition's stay verbatim
    spark.conf.set("spark.sql.catalog.graft_pz", "graft.sql.VersionedCatalog")
    val xBefore = filesOf(2, "x")
    val st = spark.sql(s"CALL graft_pz.system.compact_files(table => '$dir', " +
      "where => 'p = \\'y\\'')").collect().head
    assert(st.getInt(0) == 4 && st.getInt(1) == 1, st.toString)
    val v3 = Versioned.latestVersion(spark, dir).get
    assert(filesOf(v3, "x") == xBefore, "compact of y must carry x verbatim")
    assert(Versioned.readLatest(spark, dir).count() == 8190)
    // CALL zorder with where => returns the committed version; n_files
    // omitted derives the count from the selected bytes (tiny here: 1)
    val zv = spark.sql(s"CALL graft_pz.system.zorder(table => '$dir', " +
      "col_a => 'a', col_b => 'b', where => 'p = \\'y\\'')")
      .as[Int].head()
    assert(zv == v3 + 1)
    assert(filesOf(zv, "y").valuesIterator.map(_.size).sum == 1,
      "auto n_files at the 128 MiB target must land one file for KB-sized data")
    assert(Versioned.readLatest(spark, dir).count() == 8190)
  }

  test("SQL UPDATE that changes a partition value re-lands rows hive-correct; partitioned DELETE prunes its candidate files by partition stats") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_partmove").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_pm", "graft.sql.VersionedCatalog")
    Versioned.writeVersionPartitioned(
      spark.range(0, 100).toDF("id")
        .withColumn("p", when($"id" % 2 === 0, "x").otherwise("y"))
        .repartition(2), dir, Seq("p"))
    // move a slice of x into partition z: the CoW rewrite reads the
    // candidate files and the replacement re-lands hive-laid-out, so
    // the moved rows live under p=z both logically AND physically
    spark.sql(s"UPDATE graft_pm.`$dir` SET p = 'z' WHERE p = 'x' AND id < 10")
    val v1 = Versioned.latestVersion(spark, dir).get
    val got = Versioned.readLatest(spark, dir)
      .groupBy("p").count().orderBy("p").as[(String, Long)].collect().toSeq
    assert(got == Seq(("x", 45L), ("y", 50L), ("z", 5L)), got.toString)
    // physically: the manifest's partition summary (derived from the
    // hive paths at harvest) shows the new partition
    assert(Versioned.partitionSummary(spark, dir, v1)
      .exists { case (part, _, rows, _) => part == "p=z" && rows == 5L })
    // partition-pruned read of the moved rows stays exact
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pm.`$dir` WHERE p = 'z'")
      .as[Long].head() == 5L)
    // a multi-column DELETE on the partition slice is a POSITIONAL
    // mask: NO file moves at all — y's AND z's files carry verbatim,
    // the served read just drops z's rows
    val yBefore = Versioned.partitionScopedFiles(spark, dir, v1, "p = 'y'")
    val zBefore = Versioned.partitionScopedFiles(spark, dir, v1, "p = 'z'")
    spark.sql(s"DELETE FROM graft_pm.`$dir` WHERE p = 'z' AND id >= 0")
    val v2 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.partitionScopedFiles(spark, dir, v2, "p = 'y'") == yBefore,
      "a positional DELETE must not rewrite other partitions")
    assert(Versioned.partitionScopedFiles(spark, dir, v2, "p = 'z'") == zBefore,
      "a positional DELETE leaves even the target partition's files in place")
    assert(Versioned.readLatest(spark, dir).count() == 95)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pm.`$dir` WHERE p = 'z'")
      .as[Long].head() == 0L)
    // partition-scoped compaction applies the mask PHYSICALLY: the
    // all-masked partition empties away, y's files still verbatim
    assert(graft.ext.Maintenance.compactVersionedWhere(spark, dir, "p = 'z'").nonEmpty)
    val v3 = Versioned.latestVersion(spark, dir).get
    assert(!Versioned.partitionSummary(spark, dir, v3).exists(_._1 == "p=z"),
      "physical apply must drop the emptied partition")
    assert(Versioned.partitionScopedFiles(spark, dir, v3, "p = 'y'") == yBefore)
    assert(Versioned.readLatest(spark, dir).count() == 95)
    // time travel serves every intermediate layout
    assert(Versioned.readVersion(spark, dir, 0).count() == 100)
    assert(Versioned.readVersion(spark, dir, v1).count() == 100)
    assert(Versioned.readVersion(spark, dir, v2).count() == 95)
  }

  test("prefix skipping: LIKE 'p%' prunes dirs whose bounds cannot hold the prefix range; boundary dirs kept; byte-order edges safe") {
    import org.apache.spark.sql.sources.StringStartsWith
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix").toString + "/t"
    def month(m: String, n: Int) =
      spark.range(0, n).toDF("id")
        .withColumn("k", concat(lit(m + "-"), lpad($"id".cast("string"), 2, "0")))
        .repartition(1)
    Versioned.writeVersion(month("2021-01", 10), dir)
    Versioned.writeVersion(month("2021-02", 10), dir, SaveMode.Append)
    Versioned.writeVersion(month("2022-01", 10), dir, SaveMode.Append)
    def planned(p: String) =
      Versioned.planDataDirs(spark, dir, 2, Seq(StringStartsWith("k", p))).length
    assert(planned("2021-02") == 1)
    assert(planned("2021") == 2)   // both 2021 dirs kept, 2022 dropped
    assert(planned("2023") == 0)   // above every dir
    assert(planned("2020") == 0)   // below every dir
    // the catalog's pushed LIKE gets the same prune, and the result is exact
    spark.conf.set("spark.sql.catalog.graft_px", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_px.`$dir` WHERE k LIKE '2021-02%'")
      .as[Long].head() == 10)
    // byte-order edge: a supplementary-plane prefix compares in UTF-8
    // byte order (where 😀 sorts above 'z'), and its dir is kept
    // (valid UTF-8 never emits 0xFF, so the no-upper-bound branch of
    // the successor is purely defensive)
    val eDir = java.nio.file.Files.createTempDirectory("graft_prefix_e").toString + "/t"
    Versioned.writeVersion(Seq("za", "😀x").toDF("k").repartition(1), eDir) // 😀 > 'z' in UTF-8
    assert(Versioned.planDataDirs(spark, eDir, 0,
      Seq(StringStartsWith("k", "😀"))).length == 1, "emoji prefix must keep its dir")
    // null-safe equality prunes like equality; <=> NULL like IS NULL
    import org.apache.spark.sql.sources.EqualNullSafe
    assert(Versioned.planDataDirs(spark, dir, 2, Seq(EqualNullSafe("k", "2022-01-05"))).length == 1)
    assert(Versioned.planDataDirs(spark, dir, 2, Seq(EqualNullSafe("k", null))).isEmpty,
      "no dir holds nulls: <=> NULL proves every dir empty")
  }

  test("dynamic partition overwrite: only the partitions present in the data replace; others verbatim; concurrent writes into a claimed partition conflict") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_dynover").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_dy", "graft.sql.VersionedCatalog")
    Versioned.writeVersionPartitioned(
      spark.range(0, 100).toDF("id")
        .withColumn("v", lit("orig"))
        .withColumn("p", when($"id" % 2 === 0, "x").otherwise("y"))
        .repartition(2), dir, Seq("p"))
    def filesOf(v: Int, part: String) =
      Versioned.partitionScopedFiles(spark, dir, v, s"p = '$part'")
    val yBefore = filesOf(0, "y")
    // SQL surface, dynamic mode: the INSERT OVERWRITE's rows touch
    // only p='x' — y's files must carry VERBATIM
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"INSERT OVERWRITE graft_dy.`$dir` " +
        "SELECT id, 'new' AS v, 'x' AS p FROM range(0, 10)")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val v1 = Versioned.latestVersion(spark, dir).get
    assert(v1 == 1)
    assert(filesOf(v1, "y") == yBefore, "untouched partition must carry verbatim")
    val got = Versioned.readLatest(spark, dir)
      .groupBy("p", "v").count().orderBy("p", "v")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("x", "new", 10L), ("y", "orig", 50L)), got.toString)
    // time travel to the pre-overwrite state still serves both slices
    assert(Versioned.readVersion(spark, dir, 0).count() == 100)
    // library twin: same semantics, returns the committed version
    val v2 = Versioned.writeVersionPartitionedDynamic(
      spark.range(0, 5).toDF("id").withColumn("v", lit("lib")).withColumn("p", lit("y")),
      dir, Seq("p"))
    assert(v2.contains(2))
    assert(Versioned.readLatest(spark, dir)
      .groupBy("p").count().orderBy("p").as[(String, Long)].collect().toSeq ==
      Seq(("x", 10L), ("y", 5L)))
    // an empty dynamic overwrite replaces NOTHING (no versions burned)
    assert(Versioned.writeVersionPartitionedDynamic(
      spark.range(0, 0).toDF("id").withColumn("v", lit("z")).withColumn("p", lit("x")),
      dir, Seq("p")).isEmpty)
    assert(Versioned.latestVersion(spark, dir).contains(2))
    // exclusivity: a file landed in a claimed partition between the
    // victim snapshot and the commit surfaces as a conflict — the
    // statement would otherwise silently lose the concurrent write
    val vNow = Versioned.latestVersion(spark, dir).get
    val victims = Versioned.partitionScopedFiles(spark, dir, vNow, "p = 'x'")
    val touched = Set(Seq(Option("x")))
    val staged = Versioned.stageDataDir(spark, dir)
    spark.range(100, 105).toDF("id").withColumn("v", lit("race")).withColumn("p", lit("x"))
      .write.partitionBy("p").parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), staged).toString)
    Versioned.appendVersionPartitionedWithRetry( // the concurrent write
      spark.range(200, 205).toDF("id").withColumn("v", lit("intruder")).withColumn("p", lit("x")),
      dir, Seq("p"))
    val ex = intercept[IllegalStateException] {
      Versioned.commitFileRewrite(spark, dir, victims, Some(staged), Seq("p"),
        Seq.empty, exclusivePartitions = touched) }
    assert(ex.getMessage.contains("concurrently"), ex.getMessage)
    // …while the same race into a DIFFERENT partition commutes
    val victims2 = Versioned.partitionScopedFiles(spark, dir,
      Versioned.latestVersion(spark, dir).get, "p = 'y'")
    val staged2 = Versioned.stageDataDir(spark, dir)
    spark.range(300, 303).toDF("id").withColumn("v", lit("y2")).withColumn("p", lit("y"))
      .write.partitionBy("p").parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), staged2).toString)
    Versioned.appendVersionPartitionedWithRetry(
      spark.range(400, 402).toDF("id").withColumn("v", lit("x2")).withColumn("p", lit("x")),
      dir, Seq("p"))
    assert(Versioned.commitFileRewrite(spark, dir, victims2, Some(staged2), Seq("p"),
      Seq.empty, exclusivePartitions = Set(Seq(Option("y")))).nonEmpty)
    assert(Versioned.readLatest(spark, dir).filter($"p" === "y").count() == 3)
    // the table's contract holds through the new write path: a CHECK
    // (including one over the PARTITION column — the staged hive tree
    // re-attaches partition values on the validation read) and a NOT
    // NULL both refuse a violating dynamic overwrite, nothing committed
    spark.sql(s"ALTER TABLE graft_dy.`$dir` ADD CONSTRAINT id_pos CHECK (id >= 0)")
    val vClean = Versioned.latestVersion(spark, dir).get
    val bad = intercept[Exception] {
      Versioned.writeVersionPartitionedDynamic(
        Seq((-1L, "neg", "x")).toDF("id", "v", "p"), dir, Seq("p")) }
    assert(bad.getMessage.contains("id_pos"), bad.getMessage)
    assert(Versioned.latestVersion(spark, dir).contains(vClean), "nothing committed")
  }

  test("N-column z-order: zKeyN is zKey at N=2; a 3-column optimize prunes on every dimension; zorder_by and detail serve over CALL") {
    import org.apache.spark.sql.sources.LessThan
    import graft.ext.{Maintenance, Versioned}
    // bit parity: the 2-column key is the N=2 case exactly
    val probe = spark.range(0, 2048).toDF("id")
      .withColumn("a", $"id" % 64).withColumn("b", $"id" / 64)
    assert(probe.filter(Maintenance.zKey($"a", $"b", 16) =!=
      Maintenance.zKeyN(Seq($"a", $"b"), 16)).isEmpty)
    // 16x16x16 grid hash-scattered into 8 files: nothing prunes on any
    // dimension pre-optimize
    val dir = java.nio.file.Files.createTempDirectory("graft_z3").toString + "/t"
    val grid = spark.range(0, 4096).toDF("id")
      .withColumn("a", $"id" % 16)
      .withColumn("b", ($"id" / 16) % 16)
      .withColumn("c", $"id" / 256)
    Versioned.writeVersionWith(spark, dir)(tmp =>
      grid.repartition(8).write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(tmp))
    def planned(v: Int, f: org.apache.spark.sql.sources.Filter) =
      Versioned.planDataFiles(spark, dir, v, Seq(f)).length
    for (c <- Seq("a", "b", "c"))
      assert(planned(0, LessThan(c, 4L)) == 8, s"scattered $c must not prune")
    spark.conf.set("spark.sql.catalog.graft_z3", "graft.sql.VersionedCatalog")
    val zv = spark.sql(s"CALL graft_z3.system.zorder_by('$dir', 'a,b,c', 8)")
      .as[Int].head()
    assert(zv == 1)
    for (c <- Seq("a", "b", "c"))
      assert(planned(1, LessThan(c, 4L)) < 8,
        s"$c-prune after 3-col zorder: ${planned(1, LessThan(c, 4L))}")
    // exactness under the pruned plan
    assert(Versioned.readLatest(spark, dir).filter($"c" < 4).count() == 1024)
    // DESCRIBE DETAIL from manifest bytes: one metadata row, zero data IO
    val det = spark.sql(s"CALL graft_z3.system.detail('$dir')").collect().head
    assert(det.getInt(1) == 1 && det.getInt(2) == 2, det.toString) // version 1 of 2
    assert(det.getInt(3) == 8, det.toString)                        // 8 live files
    assert(det.getLong(5) == 4096L, det.toString)                   // exact rows
    assert(det.getString(6) == "" && det.getInt(9) == 0, det.toString)
  }

  test("scoped-dv compaction is mask-preserving under random delete/append/re-insert interleavings") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    // SQL DELETE semantics make the expected state a plain mutable
    // set: a scoped delete removes currently-visible keys; a later
    // append (including a re-insert of a masked key) lands outside
    // every existing scope and is visible. Compaction must preserve
    // the masked read over arbitrary interleavings — nested,
    // overlapping, and disjoint coverage shapes all arise here.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_dvrand$seed").toString + "/t"
      val expected = scala.collection.mutable.Set.empty[Long]
      def append(ks: Seq[Long]): Unit = {
        Versioned.writeVersion(ks.toDF("id").repartition(1), dir,
          if (Versioned.latestVersion(spark, dir).isEmpty) SaveMode.Overwrite
          else SaveMode.Append)
        expected ++= ks
      }
      append((0L until 10L).map(_ + 100L * 0))
      var nextBase = 1
      for (_ <- 0 until 8) {
        if (rnd.nextBoolean() && expected.nonEmpty) {
          val victims = rnd.shuffle(expected.toSeq).take(1 + rnd.nextInt(4))
          Versioned.deleteByKeysScoped(spark, dir, victims.toDF("id"), "id")
          expected --= victims
        } else {
          // fresh ids, plus sometimes a re-insert of a masked key
          val fresh = (0L until 5L).map(_ + 100L * nextBase)
          nextBase += 1
          val reinsert = if (rnd.nextBoolean()) Seq(rnd.nextInt(10).toLong) else Seq.empty
          append(fresh ++ reinsert)
        }
      }
      def ids() = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
      assert(ids() == expected.toSet, s"seed $seed pre-compaction")
      Versioned.compactDeletionVectors(spark, dir)
      assert(ids() == expected.toSet, s"seed $seed post-compaction")
      // idempotent: the compacted shape declines a second pass
      assert(Versioned.compactDeletionVectors(spark, dir).isEmpty, s"seed $seed idempotence")
      // and the compacted scopes PARTITION the covered dirs
      val scoped = Versioned.versionInfo(spark, dir,
        Versioned.latestVersion(spark, dir).get).scopedDvs
      val scopes = scoped.map(_._3)
      assert(scopes.map(_.size).sum == scopes.flatten.toSet.size, s"seed $seed partition")
    }
  }

  test("scoped-dv compaction groups by dir coverage: N SQL deletes compact to one dv per coverage group; masks identical; union branch count pinned") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_dvcov").toString + "/t"
    Versioned.writeVersion(spark.range(0, 10).toDF("id"), dir)                  // d1
    Versioned.deleteByKeysScoped(spark, dir, Seq(1L).toDF("id"), "id")          // dv1 {d1}
    Versioned.writeVersion(spark.range(10, 20).toDF("id"), dir, SaveMode.Append) // d2
    Versioned.deleteByKeysScoped(spark, dir, Seq(2L, 11L).toDF("id"), "id")     // dv2 {d1,d2}
    Versioned.writeVersion(spark.range(20, 30).toDF("id"), dir, SaveMode.Append) // d3
    Versioned.deleteByKeysScoped(spark, dir, Seq(3L, 12L, 21L).toDF("id"), "id") // dv3 {d1,d2,d3}
    // two more deletes with no append in between: same scope as dv3
    Versioned.deleteByKeysScoped(spark, dir, Seq(4L).toDF("id"), "id")          // dv4 {d1,d2,d3}
    Versioned.deleteByKeysScoped(spark, dir, Seq(13L).toDF("id"), "id")         // dv5 {d1,d2,d3}
    val pre = Versioned.latestVersion(spark, dir).get
    val expect = (0L until 30L).toSet -- Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 21L)
    def ids() = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
    def unionBranches() = {
      val plan = Versioned.readLatest(spark, dir).queryExecution.optimizedPlan
      plan.collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        u.children.length }.sum.max(1)
    }
    assert(ids() == expect)
    assert(Versioned.versionInfo(spark, dir, pre).scopedDvs.length == 5)
    // coverage groups: d1←{dv1..dv5}, d2←{dv2..dv5}, d3←{dv3,dv4,dv5}
    // — three distinct coverages, which is what the read already plans
    assert(unionBranches() == 3)
    val cv = Versioned.compactDeletionVectors(spark, dir)
    assert(cv.contains(pre + 1))
    val post = Versioned.versionInfo(spark, dir, pre + 1)
    // 5 scoped dvs → 3 (one per coverage group), scopes PARTITION the dirs
    assert(post.scopedDvs.length == 3, post.scopedDvs.toString)
    val scopes = post.scopedDvs.map(_._3)
    assert(scopes.map(_.size).sum == scopes.flatten.toSet.size,
      "compacted scopes must partition the data dirs")
    // masked read identical; union branch count unchanged (= #groups)
    assert(ids() == expect)
    assert(unionBranches() == 3)
    // pre-compaction version still time-travels to the un-merged chain
    assert(Versioned.readVersion(spark, dir, pre)
      .select("id").as[Long].collect().toSet == expect)
    // idempotent: the compacted shape declines a second pass
    assert(Versioned.compactDeletionVectors(spark, dir).isEmpty)
    // SQL DELETE semantics survive the merge: a re-insert of a masked
    // key is visible (the new dir is outside every compacted scope)
    Versioned.writeVersion(Seq(2L).toDF("id"), dir, SaveMode.Append)
    assert(ids() == expect + 2L)
  }

  test("column mapping: rename is metadata-only; reads serve logical names; skipping and time travel hold") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap").toString + "/t"
    val v0 = Versioned.writeVersion(
      (1L to 100L).map(i => (i, s"u$i", i * 2.0)).toDF("id", "name", "score"), dir)
    val dirsBefore = Versioned.liveDataDirs(spark, dir).toSet
    val vr = Versioned.renameColumns(spark, dir, Seq("score" -> "rating"))
    assert(vr == v0 + 1)
    // METADATA-ONLY: not one data dir changed
    assert(Versioned.liveDataDirs(spark, dir).toSet == dirsBefore)
    assert(Versioned.columnMapping(spark, dir, vr) == Map("rating" -> "score"))
    // reads serve the LOGICAL name
    val latest = Versioned.readLatest(spark, dir)
    assert(latest.columns.toSeq == Seq("id", "name", "rating"))
    assert(latest.filter($"rating" === 20.0).select("id").as[Long].head() == 10L)
    // logicalSchema vs recordedSchema (physical) disagree exactly on the rename
    assert(Versioned.logicalSchema(spark, dir, vr).get.fieldNames.toSeq ==
      Seq("id", "name", "rating"))
    assert(Versioned.recordedSchema(spark, dir, vr).get.fieldNames.toSeq ==
      Seq("id", "name", "score"))
    // TIME TRAVEL to the pre-rename version serves the old name
    assert(Versioned.readVersion(spark, dir, v0).columns.toSeq ==
      Seq("id", "name", "score"))

    // APPEND through the df seam lands PHYSICAL column names
    val va = Versioned.writeVersion(
      Seq((101L, "u101", 999.5)).toDF("id", "name", "rating"), dir, SaveMode.Append)
    val newDir = Versioned.liveDataDirs(spark, dir)
      .filterNot(dirsBefore).head
    assert(spark.read.parquet(newDir).columns.contains("score"),
      "appended files must carry the physical name")
    assert(Versioned.readVersion(spark, dir, va).count() == 101)
    assert(Versioned.readLatest(spark, dir)
      .filter($"rating" === 999.5).select("id").as[Long].head() == 101L)

    // SKIPPING on the logical name: both the explicit API and the plan probe
    import org.apache.spark.sql.sources.EqualTo
    val planned = Versioned.planDataDirs(spark, dir, va, Seq(EqualTo("rating", 999.5)))
    assert(planned.length == 1, s"skip should keep only the new dir, got $planned")
    assert(Versioned.readVersionSkipping(spark, dir, va, Seq(EqualTo("rating", 999.5)))
      .select("id").as[Long].collect().toSeq == Seq(101L))

    // a raw writeVersionWith APPEND that stages the logical name refuses
    val e = intercept[IllegalArgumentException] {
      Versioned.writeVersionWith(spark, dir, mode = SaveMode.Append)(tmp =>
        Seq((102L, "u102", 1.0)).toDF("id", "name", "rating")
          .write.parquet(tmp))
    }
    assert(e.getMessage.contains("physical name"), e.getMessage)
    assert(Versioned.readLatest(spark, dir).count() == 101)

    // DELETE by the logical key name masks across the rename
    Versioned.deleteByKeys(spark, dir,
      Seq(10L).toDF("id"), "id")
    assert(Versioned.readLatest(spark, dir).filter($"rating" === 20.0).isEmpty)

    // chained rename folds (rating -> r2), rename BACK drops the map line
    val v2 = Versioned.renameColumns(spark, dir, Seq("rating" -> "r2"))
    assert(Versioned.columnMapping(spark, dir, v2) == Map("r2" -> "score"))
    val v3 = Versioned.renameColumns(spark, dir, Seq("r2" -> "score"))
    assert(Versioned.columnMapping(spark, dir, v3).isEmpty)
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id", "name", "score"))

    // an OVERWRITE resets the physical layout and drops the mapping
    val v4 = Versioned.renameColumns(spark, dir, Seq("score" -> "points"))
    val v5 = Versioned.writeVersion(
      Versioned.readLatest(spark, dir), dir) // e.g. a compaction rewrite
    assert(Versioned.columnMapping(spark, dir, v5).isEmpty)
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id", "name", "points"))
    assert(v4 + 1 == v5)
  }

  test("column mapping: refusals — partition column, occupied names; CHECK follows the rename; NOT NULL survives") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_colmap_refuse").toString
    // the PARTITION column refuses (its name IS the hive layout);
    // data columns of the same chain rename fine
    val pdir = root + "/p"
    Versioned.writeVersionPartitioned(
      Seq((1L, "x"), (2L, "y")).toDF("id", "p"), pdir, Seq("p"))
    val ep = intercept[IllegalArgumentException] {
      Versioned.renameColumns(spark, pdir, Seq("p" -> "part"))
    }
    assert(ep.getMessage.contains("PARTITION column"), ep.getMessage)
    Versioned.renameColumns(spark, pdir, Seq("id" -> "key"))
    assert(Versioned.readLatest(spark, pdir).columns.toSeq == Seq("key", "p"))

    val dir = root + "/t"
    Versioned.writeVersion((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "price"), dir)
    // a CHECK constraint FOLLOWS the rename: the stored predicate
    // rewrites through the mapping and keeps enforcing under the new
    // name — both on the library write path and after renaming BACK
    Versioned.addCheckConstraint(spark, dir, "pos", "price > 0")
    Versioned.renameColumns(spark, dir, Seq("price" -> "cost"))
    val rewritten = Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get)
    assert(rewritten.exists { case (n, sql) => n == "pos" && sql.contains("cost") },
      rewritten.toString)
    val ecv = intercept[Exception] {
      Versioned.writeVersion(Seq((11L, -5.0)).toDF("id", "cost"), dir, SaveMode.Append)
    }
    assert(ecv.getMessage.contains("pos"), ecv.getMessage)
    Versioned.writeVersion(Seq((11L, 5.0)).toDF("id", "cost"), dir, SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).count() == 11)
    // a CoW rewrite under the followed constraint: commitFileRewrite
    // must validate the staged (PHYSICAL-named) files under LOGICAL
    // names, or every UPDATE on a renamed-constrained table dies with
    // UNRESOLVED_COLUMN even for valid rows
    spark.conf.set("spark.sql.catalog.graft_cf", "graft.sql.VersionedCatalog")
    spark.sql(s"UPDATE graft_cf.`$dir` SET cost = cost + 1.0 WHERE id = 1")
    assert(spark.sql(s"SELECT cost FROM graft_cf.`$dir` WHERE id = 1")
      .as[Double].head() == 2.0)
    // …and a VIOLATING rewrite still refuses through the rename
    assert(intercept[Exception] {
      spark.sql(s"UPDATE graft_cf.`$dir` SET cost = -9.0 WHERE id = 2")
    }.getMessage.contains("pos"))
    // rename BACK to the physical name: the mapping drops, the
    // constraint text follows again
    Versioned.renameColumns(spark, dir, Seq("cost" -> "price"))
    assert(Versioned.columnMapping(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get)
      .exists { case (n, sql) => n == "pos" && sql.contains("price") })
    Versioned.renameColumns(spark, dir, Seq("price" -> "cost"))
    Versioned.dropCheckConstraint(spark, dir, "pos")
    Versioned.renameColumns(spark, dir, Seq("cost" -> "price"))

    // NOT NULL survives the rename (the line is physical-keyed)
    Versioned.alterTableAtomic(spark, dir,
      Versioned.AlterSpec(setNotNull = Seq("price")))
    Versioned.renameColumns(spark, dir, Seq("price" -> "cost"))
    val vNow = Versioned.latestVersion(spark, dir).get
    assert(Versioned.notNullColumns(spark, dir, vNow) == Seq("cost"))
    val en = intercept[Exception] {
      Versioned.writeVersion(
        Seq((11L, null.asInstanceOf[java.lang.Double]))
          .toDF("id", "cost"), dir, SaveMode.Append)
    }
    assert(en.getMessage.contains("NOT NULL"), en.getMessage)
    // dropping it back through the LOGICAL name works
    Versioned.alterTableAtomic(spark, dir,
      Versioned.AlterSpec(dropNotNull = Seq("cost")))
    assert(Versioned.notNullColumns(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)

    // target name collisions refuse: existing logical, and occupied physical
    val e1 = intercept[IllegalArgumentException] {
      Versioned.renameColumns(spark, dir, Seq("id" -> "cost"))
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.renameColumns(spark, dir, Seq("id" -> "price"))
    }
    assert(e2.getMessage.contains("physical storage name"), e2.getMessage)

    // re-ADD under the occupied physical name refuses (the resurrect guard) …
    val e3 = intercept[IllegalArgumentException] {
      Versioned.addColumns(spark, dir, Seq(
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType)))
    }
    assert(e3.getMessage.contains("physical storage name"), e3.getMessage)
    // … and so does appending a df that smuggles the name in
    val e4 = intercept[IllegalArgumentException] {
      Versioned.writeVersion(
        Seq((12L, 1.0, 2.0)).toDF("id", "cost", "price"), dir, SaveMode.Append)
    }
    assert(e4.getMessage.contains("occupied"), e4.getMessage)

    // DROPPING the renamed column (by its logical name) prunes the map
    Versioned.writeVersion(Seq((12L, 3.0)).toDF("id", "cost"), dir, SaveMode.Append)
    Versioned.dropColumns(spark, dir, Seq("cost"))
    val vD = Versioned.latestVersion(spark, dir).get
    assert(Versioned.columnMapping(spark, dir, vD).isEmpty)
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id"))
    // with the mapping gone, the physical name is free again
    Versioned.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType)))
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id", "price"))
  }

  test("column mapping over SQL: RENAME COLUMN, insert/select/update/delete across the rename, dv-masked read") {
    import graft.ext.Versioned
    spark.conf.set("spark.sql.catalog.graft_cm", "graft.sql.VersionedCatalog")
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap_sql").toString + "/t"
    spark.sql(s"CREATE TABLE graft_cm.`$dir` (id BIGINT, name STRING, score DOUBLE)")
    spark.sql(s"INSERT INTO graft_cm.`$dir` VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)")

    spark.sql(s"ALTER TABLE graft_cm.`$dir` RENAME COLUMN score TO rating")
    val vR = Versioned.latestVersion(spark, dir).get
    assert(Versioned.columnMapping(spark, dir, vR) == Map("rating" -> "score"))
    // the catalog serves the LOGICAL schema
    assert(spark.table(s"graft_cm.`$dir`").columns.toSeq == Seq("id", "name", "rating"))
    // reads + pushed filters on the renamed column
    assert(spark.sql(s"SELECT id FROM graft_cm.`$dir` WHERE rating > 15.0 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // time travel still serves the OLD name
    assert(spark.sql(s"SELECT score FROM graft_cm.`$dir` VERSION AS OF 1 ORDER BY score")
      .as[Double].collect().toSeq == Seq(10.0, 20.0, 30.0))

    // INSERT through the new name: files land under the physical name
    spark.sql(s"INSERT INTO graft_cm.`$dir` VALUES (4, 'd', 40.0)")
    assert(spark.sql(s"SELECT rating FROM graft_cm.`$dir` WHERE id = 4").as[Double].head() == 40.0)
    val newest = Versioned.liveDataDirs(spark, dir).last
    assert(spark.read.parquet(newest).columns.contains("score"),
      "SQL INSERT after the rename must stage physical names")

    // UPDATE via the renamed column (copy-on-write candidates path):
    // the staged replacement must ALSO carry the physical name
    val dirsBeforeU = Versioned.liveDataDirs(spark, dir).toSet
    spark.sql(s"UPDATE graft_cm.`$dir` SET rating = rating + 1.0 WHERE id = 2")
    assert(spark.sql(s"SELECT rating FROM graft_cm.`$dir` WHERE id = 2").as[Double].head() == 21.0)
    val vU = Versioned.latestVersion(spark, dir).get
    assert(Versioned.columnMapping(spark, dir, vU) == Map("rating" -> "score"),
      "the mapping must survive a copy-on-write UPDATE")
    // the delta-path UPDATE commits a position-mask sidecar beside its
    // appended rows — only the DATA dirs must carry the physical name
    val stagedU = Versioned.liveDataDirs(spark, dir).filterNot(dirsBeforeU)
      .filterNot(_.contains("_pdv_"))
    assert(stagedU.nonEmpty, "the UPDATE must append re-inserted rows")
    stagedU.foreach(d => assert(spark.read.parquet(d).columns.contains("score"),
      s"UPDATE replacement in $d must carry the physical name"))

    // DELETE by key through the new name, then the dv-masked read
    spark.sql(s"DELETE FROM graft_cm.`$dir` WHERE id = 1")
    assert(spark.sql(s"SELECT id, rating FROM graft_cm.`$dir` ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((2L, 21.0), (3L, 30.0), (4L, 40.0)))
    // a dv keyed on the RENAMED column itself
    spark.sql(s"ALTER TABLE graft_cm.`$dir` RENAME COLUMN id TO doc_id")
    spark.sql(s"DELETE FROM graft_cm.`$dir` WHERE doc_id = 3")
    assert(spark.sql(s"SELECT doc_id FROM graft_cm.`$dir` ORDER BY doc_id")
      .as[Long].collect().toSeq == Seq(2L, 4L))

    // MERGE WITH SCHEMA EVOLUTION across the rename: the new source
    // column widens the table; the renamed columns keep serving
    Seq((2L, "bb", 99.0), (5L, "e", 50.0)).toDF("doc_id", "name", "rating")
      .createOrReplaceTempView("cm_src")
    spark.sql(s"MERGE INTO graft_cm.`$dir` t USING cm_src s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET t.rating = s.rating " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT doc_id, rating FROM graft_cm.`$dir` ORDER BY doc_id")
      .as[(Long, Double)].collect().toSeq == Seq((2L, 99.0), (4L, 40.0), (5L, 50.0)))
    assert(Versioned.columnMapping(spark, dir,
      Versioned.latestVersion(spark, dir).get).nonEmpty)

    // DESCRIBE-equivalent: SHOW COLUMNS serves logical names
    assert(spark.sql(s"SHOW COLUMNS IN graft_cm.`$dir`").as[String].collect().toSet ==
      Set("doc_id", "name", "rating"))

    // refusals at the SQL seam: renaming onto an occupied physical name
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_cm.`$dir` RENAME COLUMN name TO score")
    }
    assert(e.getMessage.contains("physical storage name"), e.getMessage)

    // a CHECK constraint FOLLOWS a rename at the SQL seam too: the
    // rewritten predicate keeps enforcing (plan-side CheckInvariant
    // reads the table's reported constraints) under the NEW name
    spark.sql(s"ALTER TABLE graft_cm.`$dir` ADD CONSTRAINT pos CHECK (rating > 0)")
    spark.sql(s"ALTER TABLE graft_cm.`$dir` RENAME COLUMN rating TO stars")
    assert(Versioned.checkConstraints(spark, dir,
      Versioned.latestVersion(spark, dir).get)
      .exists { case (n, sql) => n == "pos" && sql.contains("stars") })
    val ev = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_cm.`$dir` VALUES (9, 'z', -1.0)")
    }
    assert(ev.getMessage.toLowerCase.contains("pos") ||
      ev.getMessage.toLowerCase.contains("check"), ev.getMessage)
    spark.sql(s"INSERT INTO graft_cm.`$dir` VALUES (9, 'z', 1.0)")
    assert(spark.sql(s"SELECT stars FROM graft_cm.`$dir` WHERE doc_id = 9")
      .as[Double].head() == 1.0)
    spark.sql(s"DROP TABLE graft_cm.`$dir`")
  }

  test("bloom file skipping: point lookups prune interleaved-key files that bounds cannot; one-sided, rename-aware, rewrite-maintained") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.{EqualTo, In}
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    // INTERLEAVED keys: every commit spans the full [0, 2000) range, so
    // min/max bounds can never prune a point lookup — the bloom must
    val even = (0L until 2000L by 2).map(i => (i, s"even$i")).toDF("id", "payload")
    val odd  = (1L until 2000L by 2).map(i => (i, s"odd$i")).toDF("id", "payload")
    Versioned.writeVersion(even.repartition(2), dir)
    Versioned.writeVersion(odd.repartition(2), dir, SaveMode.Append)
    // pre-declaration: bounds keep everything (4 files)
    val allFiles = Versioned.planDataFiles(spark, dir, 1, Seq(EqualTo("id", 42L)))
    assert(allFiles.length == 4, allFiles.toString)

    val vB = Versioned.declareBloomColumn(spark, dir, "id")
    assert(Versioned.bloomColumn(spark, dir, vB).map(_._1).contains("id"))
    // the declaration backfilled: an EVEN key now plans only even files
    val planned = Versioned.planDataFiles(spark, dir, vB, Seq(EqualTo("id", 42L)))
    assert(planned.length < 4 && planned.nonEmpty,
      s"bloom must prune interleaved files, planned $planned")
    // NEVER a false negative: every present key still reads its row
    for (k <- Seq(0L, 41L, 998L, 1999L))
      assert(Versioned.readLatest(spark, dir).filter($"id" === k).count() == 1,
        s"key $k lost")
    assert(Versioned.readLatest(spark, dir).filter($"id" === 4242L).isEmpty)
    // IN-list prune: keys from one parity side keep the other side out
    val inPlan = Versioned.planDataFiles(spark, dir, vB, Seq(In("id", Array(2L, 44L))))
    assert(inPlan.length < 4, inPlan.toString)

    // a LATER append builds its own blooms at write time
    Versioned.writeVersion(Seq((5001L, "x")).toDF("id", "payload"), dir, SaveMode.Append)
    val v2 = Versioned.latestVersion(spark, dir).get
    val lookup5001 = Versioned.planDataFiles(spark, dir, v2, Seq(EqualTo("id", 5001L)))
    assert(lookup5001.length == 1, s"bounds + bloom should isolate the new file: $lookup5001")
    // …and a key in NO file plans nothing data-visible beyond fp noise
    val absent = Versioned.planDataFiles(spark, dir, v2, Seq(EqualTo("id", 42L)))
    assert(!absent.exists(lookup5001.contains), "disjoint lookups must not share files")

    // RENAME composes: the bloom line keys the physical name, the
    // filter speaks the logical one
    Versioned.renameColumns(spark, dir, Seq("id" -> "doc_id"))
    val v3 = Versioned.latestVersion(spark, dir).get
    val renamed = Versioned.planDataFiles(spark, dir, v3, Seq(EqualTo("doc_id", 42L)))
    assert(renamed.length == planned.length, s"$renamed vs $planned")
    assert(Versioned.bloomColumn(spark, dir, v3).map(_._1).contains("doc_id"))
    assert(Versioned.readLatest(spark, dir).filter($"doc_id" === 42L).count() == 1)

    // SQL surface: the catalog's manifest index consults the blooms
    spark.conf.set("spark.sql.catalog.graft_bl", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT payload FROM graft_bl.`$dir` WHERE doc_id = 42")
      .as[String].head() == "even42")
    // …and set_bloom/drop_bloom round-trip through CALL
    spark.sql(s"CALL graft_bl.system.drop_bloom('$dir')")
    val v4 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.bloomColumn(spark, dir, v4).isEmpty)
    // bounds still prune the single-key 5001 file; the 4 interleaved
    // files all come back without their blooms
    assert(Versioned.planDataFiles(spark, dir, v4, Seq(EqualTo("doc_id", 42L))).length == 4)
    spark.sql(s"CALL graft_bl.system.set_bloom('$dir', 'doc_id')")
    val v5 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.planDataFiles(spark, dir, v5,
      Seq(EqualTo("doc_id", 42L))).length == planned.length)

    // a copy-on-write UPDATE re-blooms its replacement and trims the
    // removed files' blobs; lookups stay correct (pinned cow: the
    // delta path keeps the masked original live, which a bloom
    // rightly cannot prune — positions filter it at read)
    withCow {
      spark.sql(s"UPDATE graft_bl.`$dir` SET payload = 'patched' WHERE doc_id = 42") }
    assert(spark.sql(s"SELECT payload FROM graft_bl.`$dir` WHERE doc_id = 42")
      .as[String].head() == "patched")
    val v6 = Versioned.latestVersion(spark, dir).get
    val afterUpdate = Versioned.planDataFiles(spark, dir, v6, Seq(EqualTo("doc_id", 42L)))
    assert(afterUpdate.nonEmpty && afterUpdate.length <= planned.length,
      s"post-update lookup plans $afterUpdate")

    // an OVERWRITE keeps the declaration and re-blooms the fresh state
    Versioned.writeVersion(Versioned.readLatest(spark, dir), dir)
    val v7 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.bloomColumn(spark, dir, v7).map(_._1).contains("doc_id"),
      "the declaration is table definition: an overwrite carries it")
    assert(Versioned.readLatest(spark, dir).filter($"doc_id" === 43L).count() == 1)

    // refusals: partition COLUMN (its values prune from manifest bytes
    // already — a data column of the same chain declares fine, see the
    // partitioned-bloom test), unsupported type
    val pdir = java.nio.file.Files.createTempDirectory("graft_bloom_p").toString + "/p"
    Versioned.writeVersionPartitioned(Seq((1L, "x")).toDF("id", "p"), pdir, Seq("p"))
    assert(intercept[IllegalArgumentException] {
      Versioned.declareBloomColumn(spark, pdir, "p")
    }.getMessage.contains("PARTITION column"))
    val ddir = java.nio.file.Files.createTempDirectory("graft_bloom_d").toString + "/d"
    Versioned.writeVersion(Seq((1.5, "x")).toDF("score", "s"), ddir)
    assert(intercept[IllegalArgumentException] {
      Versioned.declareBloomColumn(spark, ddir, "score")
    }.getMessage.contains("integral or string"))
  }

  test("type widening: ALTER COLUMN TYPE is metadata-only; old int32 files serve a long schema; MERGE evolution widens") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types._
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_tw", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_tw.`$dir` (id INT, qty SMALLINT, price INT)")
    spark.sql(s"INSERT INTO graft_tw.`$dir` VALUES (1, 2S, 10), (2, 3S, 20)")
    val dirsBefore = Versioned.liveDataDirs(spark, dir).toSet

    spark.sql(s"ALTER TABLE graft_tw.`$dir` ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft_tw.`$dir` ALTER COLUMN qty TYPE INT")
    spark.sql(s"ALTER TABLE graft_tw.`$dir` ALTER COLUMN price TYPE DOUBLE")
    // METADATA-ONLY: not one data dir changed
    assert(Versioned.liveDataDirs(spark, dir).toSet == dirsBefore)
    val t = spark.table(s"graft_tw.`$dir`")
    assert(t.schema("id").dataType == LongType)
    assert(t.schema("qty").dataType == IntegerType)
    assert(t.schema("price").dataType == DoubleType)
    // the OLD int32/int16 files serve the widened schema natively
    assert(spark.sql(s"SELECT id, qty, price FROM graft_tw.`$dir` ORDER BY id")
      .as[(Long, Int, Double)].collect().toSeq == Seq((1L, 2, 10.0), (2L, 3, 20.0)))
    // an INSERT of long-range values lands; pre-widening files coexist
    spark.sql(s"INSERT INTO graft_tw.`$dir` VALUES (${Long.MaxValue}L, 7, 30.5)")
    assert(spark.sql(s"SELECT id FROM graft_tw.`$dir` WHERE qty = 7").as[Long].head()
      == Long.MaxValue)
    // stats skipping stays EXACT across the widening (canonical int
    // strings parse exactly as long/double)
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val v = Versioned.latestVersion(spark, dir).get
    assert(Versioned.planDataDirs(spark, dir, v,
      Seq(GreaterThan("id", 1000000L))).length == 1)
    assert(Versioned.readVersionSkipping(spark, dir, v, Seq(EqualTo("price", 30.5)))
      .count() == 1)
    // time travel serves the PRE-widening types
    assert(Versioned.readVersion(spark, dir, 1).schema("id").dataType == IntegerType)

    // library APPEND of a NARROWER df still lands (the wider recorded
    // type serves it, like the pre-widening files)
    Versioned.writeVersion(Seq((100, 1, 5)).toDF("id", "qty", "price"), dir, SaveMode.Append)
    assert(spark.sql(s"SELECT price FROM graft_tw.`$dir` WHERE id = 100").as[Double].head() == 5.0)

    // refusals: narrowing, float->double, partition columns
    val eN = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_tw.`$dir` ALTER COLUMN id TYPE INT") }
    // Spark's own analyzer refuses non-up-casts before the catalog
    // even sees them; either refusal message is the honest one
    assert(eN.getMessage.contains("metadata-only widenings") ||
      eN.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), eN.getMessage)
    val fdir = java.nio.file.Files.createTempDirectory("graft_widen_f").toString + "/f"
    Versioned.writeVersion(Seq((1.5f, 1L)).toDF("score", "id"), fdir)
    val eF = intercept[IllegalArgumentException] {
      Versioned.alterTableAtomic(spark, fdir,
        Versioned.AlterSpec(widenCols = Seq("score" -> DoubleType))) }
    assert(eF.getMessage.contains("metadata-only widenings"), eF.getMessage)
    // …but the SQL ALTER serves the SAME change as a COPY-ON-WRITE
    // rewrite (the metadata-only library seam keeps refusing — the
    // rewrite is a data job and is priced as one): values preserved
    // bit-for-bit, the data dirs CHANGE, travel keeps FLOAT
    val fDirsB = Versioned.liveDataDirs(spark, fdir).toSet
    spark.sql(s"ALTER TABLE graft_tw.`$fdir` ALTER COLUMN score TYPE DOUBLE")
    assert(spark.table(s"graft_tw.`$fdir`").schema("score").dataType == DoubleType)
    assert(Versioned.liveDataDirs(spark, fdir).toSet != fDirsB,
      "float widening must rewrite, not re-point")
    assert(spark.sql(s"SELECT score FROM graft_tw.`$fdir`").as[Double].head() == 1.5)
    assert(Versioned.readVersion(spark, fdir, 0).schema("score").dataType == FloatType)
    // the PARTITIONED twin keeps its hive layout and pruning through
    // the rewrite; a second call refuses (the column is double now)
    val pfdir = java.nio.file.Files.createTempDirectory("graft_widen_pf").toString + "/pf"
    Versioned.writeVersionPartitioned(
      Seq((1.5f, 0), (2.5f, 1)).toDF("score", "b"), pfdir, Seq("b"))
    Versioned.widenFloatToDoubleRewrite(spark, pfdir, "score")
    assert(Versioned.readLatest(spark, pfdir).schema("score").dataType == DoubleType)
    val vPf = Versioned.latestVersion(spark, pfdir).get
    assert(Versioned.planDataFiles(spark, pfdir, vPf,
      Seq(org.apache.spark.sql.sources.EqualTo("b", 1))).length <
      Versioned.planDataFiles(spark, pfdir, vPf, Seq.empty).length,
      "partition pruning must survive the float rewrite")
    assert(Versioned.readLatest(spark, pfdir).filter($"b" === 1)
      .select("score").as[Double].head() == 2.5)
    assert(intercept[IllegalArgumentException] {
      Versioned.widenFloatToDoubleRewrite(spark, pfdir, "score")
    }.getMessage.contains("not FLOAT"))

    // MERGE WITH SCHEMA EVOLUTION: a LONG source column against the
    // INT target widens as part of the statement (Spark derives the
    // UpdateColumnType change; the catalog routes it here)
    val mdir = java.nio.file.Files.createTempDirectory("graft_widen_m").toString + "/m"
    spark.sql(s"CREATE TABLE graft_tw.`$mdir` (k BIGINT, n INT)")
    spark.sql(s"INSERT INTO graft_tw.`$mdir` VALUES (1, 10), (2, 20)")
    Seq((2L, 3000000000L), (3L, 30L)).toDF("k", "n").createOrReplaceTempView("tw_src")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft_tw.`$mdir` t USING tw_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.n = s.n " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table(s"graft_tw.`$mdir`").schema("n").dataType == LongType,
      "MERGE WITH SCHEMA EVOLUTION must widen the int target to the long source")
    assert(spark.sql(s"SELECT n FROM graft_tw.`$mdir` ORDER BY k")
      .as[Long].collect().toSeq == Seq(10L, 3000000000L, 30L))
    spark.sql(s"DROP TABLE graft_tw.`$dir`")
  }

  test("shallow clone: zero-copy fork that appends, rewrites, deletes and prunes independently of the source") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_clone").toString
    val src = root + "/src"
    val tgt = root + "/tgt"
    spark.conf.set("spark.sql.catalog.graft_cl", "graft.sql.VersionedCatalog")
    Versioned.writeVersion((1L to 100L).map(i => (i, s"r$i")).toDF("id", "v"), src)
    Versioned.writeVersion(Seq((101L, "r101")).toDF("id", "v"), src, SaveMode.Append)
    Versioned.deleteByKeys(spark, src, Seq(7L).toDF("id"), "id")
    Versioned.declareBloomColumn(spark, src, "id")

    spark.sql(s"CALL graft_cl.system.clone('$src', '$tgt')")
    // ZERO data copied: the clone root holds only manifest machinery
    def parquetUnder(p: String): Seq[String] = {
      val d = new java.io.File(p)
      if (!d.exists) Seq.empty
      else d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) parquetUnder(f.getPath)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Seq.empty)
    }
    assert(parquetUnder(tgt).isEmpty, "a shallow clone must copy no data file")
    // same rows, dv mask included; the bloom declaration cloned too
    assert(Versioned.readLatest(spark, tgt).count() == 100)
    assert(Versioned.readLatest(spark, tgt).filter($"id" === 7L).isEmpty)
    assert(Versioned.bloomColumn(spark, tgt, 0).map(_._1).contains("id"))
    import org.apache.spark.sql.sources.EqualTo
    assert(Versioned.planDataFiles(spark, tgt, 0, Seq(EqualTo("id", 101L))).length == 1,
      "cloned blooms and stats keep pruning")

    // SQL scoped DELETE against rows still in FOREIGN files: the DSv2
    // scoped-mask grouping must resolve a foreign path to its manifest
    // name (longest scope prefix), or the mask silently skips — the
    // clone-composition leg that caught a real bug at sf0.01
    spark.sql(s"DELETE FROM graft_cl.`$tgt` WHERE id = 50")
    assert(spark.sql(s"SELECT count(*) FROM graft_cl.`$tgt`").as[Long].head() == 99,
      "a scoped mask must apply to foreign files through the catalog read")
    assert(Versioned.readLatest(spark, tgt).count() == 99)

    // the clone DIVERGES: appends/deletes/updates touch only the clone
    Versioned.writeVersion(Seq((200L, "clone-only")).toDF("id", "v"), tgt, SaveMode.Append)
    spark.sql(s"UPDATE graft_cl.`$tgt` SET v = 'patched' WHERE id = 1")
    spark.sql(s"DELETE FROM graft_cl.`$tgt` WHERE id = 2")
    assert(Versioned.readLatest(spark, tgt).count() == 99) // +200 landed, id=2 and id=50 masked
    assert(spark.sql(s"SELECT v FROM graft_cl.`$tgt` WHERE id = 1").as[String].head() == "patched")
    // the SOURCE saw none of it — bytes and rows identical
    assert(Versioned.readLatest(spark, src).count() == 100)
    assert(Versioned.readLatest(spark, src).filter($"id" === 1L)
      .select("v").as[String].head() == "r1")
    assert(Versioned.readLatest(spark, src).filter($"id" === 200L).isEmpty)

    // the clone's own retention reclaims ONLY local dirs: the source's
    // files survive a full prune of the clone
    val srcFiles = parquetUnder(src).toSet
    Versioned.pruneVersions(spark, tgt, keepLast = 1, orphanMinAgeMs = 0)
    assert(parquetUnder(src).toSet == srcFiles,
      "pruning a clone must never reclaim the source's files")
    assert(Versioned.readLatest(spark, tgt).count() == 99)

    // OPTIMIZE LOCALIZES: the clone's compact reads the (masked)
    // foreign state and re-lands it as LOCAL files — after it, no
    // foreign ref remains and the clone survives the source's
    // lifecycle (the documented way out of the shared-file caveat)
    graft.ext.Maintenance.compact(spark, tgt,
      store = graft.ext.ManifestStore)
    val vL = Versioned.latestVersion(spark, tgt).get
    assert(Versioned.versionInfo(spark, tgt, vL).dataDirs.forall(_.startsWith(tgt)),
      "compacting a clone must localize every data ref")
    assert(Versioned.readLatest(spark, tgt).count() == 99)
    assert(parquetUnder(tgt).nonEmpty)
    // detail reports the new observability columns
    val det = spark.sql(s"CALL graft_cl.system.detail('$tgt')").collect().head
    assert(det.getString(det.fieldIndex("column_mapping")) == "")

    // clone of a PARTITIONED chain carries the spec and prunes partitions
    val psrc = root + "/psrc"; val ptgt = root + "/ptgt"
    Versioned.writeVersionPartitioned(
      Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("id", "p"), psrc, Seq("p"))
    Versioned.cloneTable(spark, psrc, ptgt)
    assert(Versioned.readLatest(spark, ptgt).filter($"p" === "y").count() == 2)
    assert(spark.sql(s"SELECT id FROM graft_cl.`$ptgt` WHERE p = 'x'").as[Long].head() == 1L)

    // refusals: existing target, scoped-dv source
    assert(intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, tgt)
    }.getMessage.contains("already exists"))
    val sdir = root + "/scoped"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), sdir)
    Versioned.deleteByKeysScoped(spark, sdir, Seq(1L).toDF("id"), "id")
    assert(intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, sdir, root + "/s2")
    }.getMessage.contains("scoped"))
  }

  test("column DEFAULTs: INSERT fills CURRENT_DEFAULT; pre-column files read EXISTS_DEFAULT; SET/DROP DEFAULT is future-only") {
    import graft.ext.Versioned
    spark.conf.set("spark.sql.catalog.graft_df", "graft.sql.VersionedCatalog")
    val dir = java.nio.file.Files.createTempDirectory("graft_defaults").toString + "/t"
    spark.sql(s"CREATE TABLE graft_df.`$dir` (id BIGINT, status STRING DEFAULT 'new')")
    spark.sql(s"INSERT INTO graft_df.`$dir` (id) VALUES (1)")
    spark.sql(s"INSERT INTO graft_df.`$dir` VALUES (2, 'done')")
    assert(spark.sql(s"SELECT status FROM graft_df.`$dir` ORDER BY id")
      .as[String].collect().toSeq == Seq("new", "done"))
    // INSERT with explicit DEFAULT keyword
    spark.sql(s"INSERT INTO graft_df.`$dir` VALUES (3, DEFAULT)")
    assert(spark.sql(s"SELECT status FROM graft_df.`$dir` WHERE id = 3")
      .as[String].head() == "new")

    // ADD COLUMN with DEFAULT: files that PRE-DATE the column read the
    // EXISTS_DEFAULT, not null
    spark.sql(s"ALTER TABLE graft_df.`$dir` ADD COLUMN score INT DEFAULT 7")
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 1").as[Int].head() == 7,
      "rows in pre-column files must read the ADD-time default")
    spark.sql(s"INSERT INTO graft_df.`$dir` (id, status) VALUES (4, 'x')")
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 4").as[Int].head() == 7)

    // SET DEFAULT changes FUTURE inserts only; old rows keep reading 7
    spark.sql(s"ALTER TABLE graft_df.`$dir` ALTER COLUMN score SET DEFAULT 9")
    spark.sql(s"INSERT INTO graft_df.`$dir` (id, status) VALUES (5, 'y')")
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 5").as[Int].head() == 9)
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 1").as[Int].head() == 7,
      "SET DEFAULT must not rewrite what pre-column files read")

    // DROP DEFAULT: later inserts omitting the column get null, but
    // the pre-column files STILL read their ADD-time fill
    spark.sql(s"ALTER TABLE graft_df.`$dir` ALTER COLUMN score DROP DEFAULT")
    spark.sql(s"INSERT INTO graft_df.`$dir` (id, status) VALUES (6, 'z')")
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 6").isEmpty ||
      spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 6").collect().head.isNullAt(0))
    assert(spark.sql(s"SELECT score FROM graft_df.`$dir` WHERE id = 1").as[Int].head() == 7)

    // the defaults are DEFINITION: a data overwrite keeps them …
    spark.sql(s"INSERT OVERWRITE graft_df.`$dir` SELECT * FROM graft_df.`$dir`")
    spark.sql(s"INSERT INTO graft_df.`$dir` (id) VALUES (7)")
    assert(spark.sql(s"SELECT status FROM graft_df.`$dir` WHERE id = 7")
      .as[String].head() == "new")
    // … and time travel serves the schema AS DECLARED THEN
    val v0md = Versioned.recordedSchema(spark, dir, 0).get("status").metadata
    assert(v0md.contains("CURRENT_DEFAULT") && v0md.getString("CURRENT_DEFAULT") == "'new'")
    spark.sql(s"DROP TABLE graft_df.`$dir`")
  }

  test("review hardening: bloom column drops retire the index; folded existence defaults; colon-named physical dv keys refuse") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_r12fix").toString
    spark.conf.set("spark.sql.catalog.graft_fx", "graft.sql.VersionedCatalog")

    // 1) dropping the bloom-indexed column: single-purpose dropColumns
    // refuses; the atomic ALTER retires the declaration with the
    // column; writes afterwards land clean (no orphaned declaration)
    val bdir = root + "/b"
    Versioned.writeVersion(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), bdir)
    Versioned.declareBloomColumn(spark, bdir, "id")
    assert(intercept[IllegalArgumentException] {
      Versioned.dropColumns(spark, bdir, Seq("id"))
    }.getMessage.contains("bloom"))
    spark.sql(s"ALTER TABLE graft_fx.`$bdir` DROP COLUMN id")
    val vD = Versioned.latestVersion(spark, bdir).get
    assert(Versioned.bloomColumn(spark, bdir, vD).isEmpty,
      "dropping the indexed column must retire the declaration")
    Versioned.writeVersion(Seq("z").toDF("v"), bdir, SaveMode.Append)
    assert(Versioned.readLatest(spark, bdir).count() == 3)
    // …and an OVERWRITE whose data omits the declared column retires it too
    val odir = root + "/o"
    Versioned.writeVersion(Seq((1L, "x")).toDF("id", "v"), odir)
    Versioned.declareBloomColumn(spark, odir, "id")
    Versioned.writeVersion(Seq("only-v").toDF("v"), odir)
    assert(Versioned.bloomColumn(spark, odir,
      Versioned.latestVersion(spark, odir).get).isEmpty)
    Versioned.writeVersion(Seq("w").toDF("v"), odir, SaveMode.Append) // must not crash

    // 2) EXISTS_DEFAULT folds to the ADD-time constant (not the raw sql)
    val ddir = root + "/d"
    spark.sql(s"CREATE TABLE graft_fx.`$ddir` (id BIGINT)")
    spark.sql(s"INSERT INTO graft_fx.`$ddir` VALUES (1)")
    spark.sql(s"ALTER TABLE graft_fx.`$ddir` ADD COLUMN n INT DEFAULT 2 + 3")
    val md = Versioned.recordedSchema(spark, ddir,
      Versioned.latestVersion(spark, ddir).get).get("n").metadata
    assert(md.getString("EXISTS_DEFAULT") == "5",
      s"EXISTS_DEFAULT must be the folded constant, got ${md.getString("EXISTS_DEFAULT")}")
    assert(spark.sql(s"SELECT n FROM graft_fx.`$ddir` WHERE id = 1").as[Int].head() == 5)

    // 3) a physical key name the line format cannot carry refuses the
    // delete instead of committing a corrupt manifest
    val cdir = root + "/c"
    Versioned.writeVersion(Seq((1L, "x")).toDF("a:b", "v"), cdir)
    Versioned.renameColumns(spark, cdir, Seq("a:b" -> "nice"))
    val e = intercept[IllegalArgumentException] {
      Versioned.deleteByKeys(spark, cdir, Seq(1L).toDF("nice"), "nice")
    }
    assert(e.getMessage.contains("physical storage name"), e.getMessage)
    assert(Versioned.readLatest(spark, cdir).count() == 1, "nothing may commit")
  }

  test("bloom over an all-null dir: the empty file-list line round-trips through a fresh-cache parse") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_null").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    // an appended dir whose declared column is ALL NULL has no value
    // to hash: its bloom line's file-list tail is empty
    val allNull = Seq("x", "y").toDF("payload")
      .withColumn("id", lit(null).cast("long")).select($"id", $"payload")
    Versioned.writeVersion(allNull, dir, SaveMode.Append)
    // BACKFILL path: the declaration sweeps the all-null dir
    val vB = Versioned.declareBloomColumn(spark, dir, "id")
    assert(Versioned.readVersion(spark, dir, vB).count() == 4)
    // WRITE path: a post-declaration append of another all-null dir
    Versioned.writeVersion(allNull, dir, SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).count() == 6)
    // FRESH-CACHE parse: a filesystem copy gets a new manifest cache
    // key, so the copied chain must parse from BYTES (the bug: the
    // empty tail committed fine, then every uncached read threw —
    // table bricked)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_bloom_null2").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(hfs, new org.apache.hadoop.fs.Path(dir),
      hfs, new org.apache.hadoop.fs.Path(dir2), false, conf)
    assert(Versioned.readLatest(spark, dir2).count() == 6)
    assert(Versioned.readLatest(spark, dir2).filter($"id" === 1L).count() == 1)
    // the chain stays writable after the round-trip
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "payload"), dir2, SaveMode.Append)
    assert(Versioned.readLatest(spark, dir2).filter($"id" === 3L).count() == 1)
  }

  test("column mapping on a partitioned chain: metadata-only rename; appends, dynamic overwrite, CoW, scoped compact all translate") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.{Maintenance, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpart").toString + "/t"
    val rows = (0 until 1000).map(i => (i.toLong, i % 4, s"v$i"))
    Versioned.writeVersionPartitioned(rows.toDF("id", "bucket", "payload"), dir, Seq("bucket"))
    val dirsBefore = Versioned.liveDataDirs(spark, dir).toSet
    Versioned.renameColumns(spark, dir, Seq("payload" -> "text"))
    assert(Versioned.liveDataDirs(spark, dir).toSet == dirsBefore, "rename must be metadata-only")
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("id", "text", "bucket"))
    // the PARTITION column itself keeps refusing
    assert(intercept[IllegalArgumentException] {
      Versioned.renameColumns(spark, dir, Seq("bucket" -> "b"))
    }.getMessage.contains("PARTITION column"))
    // append through the logical name: files land physical, read is one union
    Versioned.writeVersionPartitioned(
      (1000 until 1100).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "bucket", "text"),
      dir, Seq("bucket"), SaveMode.Append)
    assert(Versioned.readLatest(spark, dir).count() == 1100)
    assert(Versioned.readLatest(spark, dir).filter($"text" === "v1050").count() == 1)
    val appended = Versioned.liveDataDirs(spark, dir).filterNot(dirsBefore)
    assert(appended.nonEmpty &&
      appended.forall(nd => spark.read.parquet(nd).columns.contains("payload")),
      "appended hive subtrees must carry the PHYSICAL column name")
    // dynamic partition overwrite through the rename: bucket=2 replaced wholesale
    Versioned.writeVersionPartitionedDynamic(
      Seq((9999L, 2, "patched")).toDF("id", "bucket", "text"), dir, Seq("bucket"))
    val after = Versioned.readLatest(spark, dir)
    assert(after.filter($"bucket" === 2).count() == 1)
    assert(after.filter($"bucket" === 2).select("text").as[String].head() == "patched")
    assert(after.filter($"bucket" === 1).count() == 275, "untouched partitions carry verbatim")
    // SQL over the renamed partitioned chain: read, CoW UPDATE, DELETE
    spark.conf.set("spark.sql.catalog.graft_pm", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT text FROM graft_pm.`$dir` WHERE id = 5").as[String].head() == "v5")
    spark.sql(s"UPDATE graft_pm.`$dir` SET text = 'upd' WHERE id = 13")
    assert(spark.sql(s"SELECT text FROM graft_pm.`$dir` WHERE id = 13").as[String].head() == "upd")
    spark.sql(s"DELETE FROM graft_pm.`$dir` WHERE id = 17")
    assert(spark.sql(s"SELECT count(*) FROM graft_pm.`$dir` WHERE id = 17").as[Long].head() == 0)
    // partition-scoped compact on the renamed chain: the staged
    // replacement must land PHYSICAL names (the Maintenance seam)
    val preCount = Versioned.readLatest(spark, dir).count()
    val preDirs = Versioned.liveDataDirs(spark, dir).toSet
    assert(Maintenance.compactVersionedWhere(spark, dir, "bucket = 1").nonEmpty)
    val staged = Versioned.liveDataDirs(spark, dir).filterNot(preDirs)
    assert(staged.nonEmpty &&
      staged.forall(nd => spark.read.parquet(nd).columns.contains("payload")),
      "scoped rewrite must stage the PHYSICAL column name")
    assert(Versioned.readLatest(spark, dir).count() == preCount)
    assert(Versioned.readLatest(spark, dir).filter($"text" === "v9").count() == 1)
    // a STREAMING partitioned append translates too: the batch lands
    // the physical name (an untranslated epoch would grow a duplicate
    // logical column and split values across it)
    val preStream = Versioned.liveDataDirs(spark, dir).toSet
    Versioned.writeVersionStreamBatch(
      Seq((7777L, 3, "stream")).toDF("id", "bucket", "text"), dir,
      appId = "cmpart-app", batchId = 1L, partCols = Seq("bucket"))
    val streamDirs = Versioned.liveDataDirs(spark, dir).filterNot(preStream)
    assert(streamDirs.nonEmpty &&
      streamDirs.forall(nd => spark.read.parquet(nd).columns.contains("payload")),
      "streaming partitioned append must stage the PHYSICAL column name")
    assert(Versioned.readLatest(spark, dir).filter($"text" === "stream").count() == 1)
    assert(!Versioned.readLatest(spark, dir).columns.contains("payload"),
      "no duplicate logical column may appear")
    // time travel across the rename serves the old name
    assert(Versioned.readVersion(spark, dir, 0).columns.toSeq == Seq("id", "payload", "bucket"))
  }

  test("bloom on a PARTITIONED chain prunes files within surviving partitions; the backfill chunks into bounded commits") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.EqualTo
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_part").toString + "/t"
    // two commits × two buckets, ids INTERLEAVED across commits within
    // every bucket — min/max bounds can never prune a point lookup
    // inside a partition; only the bloom can
    def batch(mod: Long) = (0L until 2000L).filter(i => (i / 2) % 2 == mod)
      .map(i => (i, (i % 2).toInt, s"p$i")).toDF("id", "bucket", "payload")
      .repartition(1)
    Versioned.writeVersionPartitioned(batch(0), dir, Seq("bucket"))
    Versioned.writeVersionPartitioned(batch(1), dir, Seq("bucket"), SaveMode.Append)
    val vPre = Versioned.latestVersion(spark, dir).get
    // chunk limit below any dir's file count → one backfill commit PER DIR
    spark.conf.set("spark.graft.bloom.backfillFilesPerCommit", "1")
    val vB = try Versioned.declareBloomColumn(spark, dir, "id")
             finally spark.conf.unset("spark.graft.bloom.backfillFilesPerCommit")
    assert(vB == vPre + 2, s"2 dirs at limit 1 must land as 2 commits, got ${vB - vPre}")
    // MID-BACKFILL state (decl + first batch only) serves every row —
    // the one-sided contract: a file without a bloom is simply read
    assert(Versioned.readVersion(spark, dir, vPre + 1).count() == 2000)
    // partition + bloom compose: bucket prunes partitions, the bloom
    // prunes the other commit's file inside the surviving partition
    val all = Versioned.planDataFiles(spark, dir, vB, Seq.empty)
    assert(all.length == 4, all.toString)
    val lookup = Versioned.planDataFiles(spark, dir, vB,
      Seq(EqualTo("bucket", 0), EqualTo("id", 4L)))
    assert(lookup.length == 1, s"partition+bloom must isolate one file: $lookup")
    val bloomOnly = Versioned.planDataFiles(spark, dir, vB, Seq(EqualTo("id", 4L)))
    assert(bloomOnly.length < all.length && bloomOnly.nonEmpty, bloomOnly.toString)
    // never a false negative, absent keys read empty
    for (k <- Seq(0L, 3L, 998L, 1999L))
      assert(Versioned.readLatest(spark, dir).filter($"id" === k).count() == 1, s"key $k lost")
    assert(Versioned.readLatest(spark, dir).filter($"id" === 4242L).isEmpty)
    // the SQL tier's partitioned manifest index consults the blooms too
    spark.conf.set("spark.sql.catalog.graft_blp", "graft.sql.VersionedCatalog")
    assert(spark.sql(s"SELECT payload FROM graft_blp.`$dir` WHERE bucket = 0 AND id = 4")
      .as[String].head() == "p4")
    // a write-time bloom rides the next partitioned append
    Versioned.writeVersionPartitioned(Seq((5001L, 1, "new")).toDF("id", "bucket", "payload"),
      dir, Seq("bucket"), SaveMode.Append)
    val v2 = Versioned.latestVersion(spark, dir).get
    val nf = Versioned.planDataFiles(spark, dir, v2, Seq(EqualTo("id", 5001L)))
    assert(nf.length == 1, s"bounds + bloom should isolate the new file: $nf")
    // the LIBRARY DataFrame read consults the blooms too (not just the
    // SQL tier's index): a point lookup must scan fewer files than live
    def filesRead(dfq: org.apache.spark.sql.DataFrame): Long = {
      dfq.collect()
      val exec = dfq.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      exec.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    val liveN = filesRead(Versioned.readLatest(spark, dir))
    val lookupN = filesRead(Versioned.readLatest(spark, dir).filter($"id" === 4L))
    assert(lookupN > 0 && lookupN < liveN,
      s"library partitioned read must bloom-prune ($lookupN of $liveN files)")
    // DECLARING a second column is ADDITIVE (per-column indexes,
    // Delta's shape): both declarations live, each consulting only
    // its own (col, dir)-keyed blobs — a stale cross-column bitset
    // read is structurally impossible. With limit 1, the first commit
    // carries only the first batch — mid-backfill, keys living in
    // un-landed dirs must still read (no bloom = keep).
    spark.conf.set("spark.graft.bloom.backfillFilesPerCommit", "1")
    val vRe = try Versioned.declareBloomColumn(spark, dir, "payload")
              finally spark.conf.unset("spark.graft.bloom.backfillFilesPerCommit")
    assert(Versioned.bloomColumns(spark, dir, vRe).map(_._1).toSet
      == Set("id", "payload"), "declarations must be per-column additive")
    val vMid = Versioned.versions(spark, dir)
      .filter(v => Versioned.bloomColumns(spark, dir, v).exists(_._1 == "payload")).min
    for (p <- Seq("p0", "p3", "p998", "p1999"))
      assert(Versioned.readVersion(spark, dir, vMid).filter($"payload" === p).count() == 1,
        s"payload $p lost mid-backfill — a stale old-column bitset is being consulted")
  }

  test("bloom backfill default batch is BYTE-sized: wider bits shrink the per-commit file cap") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_bytes").toString + "/t"
    Versioned.writeVersion(Seq((0L, "p0")).toDF("id", "payload").repartition(1), dir)
    for (i <- 1 until 6)
      Versioned.writeVersion(Seq((i.toLong, s"p$i")).toDF("id", "payload").repartition(1),
        dir, SaveMode.Append)
    // byte cap = 4 default blobs: at default bits (32 KiB/file) the
    // derived limit is 4 files/commit → 6 one-file dirs land as 2
    // backfill commits; at 2²¹ bits (256 KiB/file) the SAME byte cap
    // derives limit 1 → 6 commits. A file-count default would have
    // silently grown the driver pull 8× instead.
    spark.conf.set("spark.graft.bloom.backfillBytesPerCommit", (4 * 32768).toString)
    try {
      val vPre = Versioned.latestVersion(spark, dir).get
      val vDefault = Versioned.declareBloomColumn(spark, dir, "id")
      assert(vDefault == vPre + 2,
        s"default bits at a 4-blob byte cap must land 6 dirs as 2 commits, got ${vDefault - vPre}")
      val vWide = Versioned.declareBloomColumn(spark, dir, "id", bits = 1 << 21)
      assert(vWide == vDefault + 6,
        s"2²¹-bit blooms at the same byte cap must land as 6 commits, got ${vWide - vDefault}")
      // both declarations end with working point-lookup pruning
      val all = Versioned.planDataFiles(spark, dir, vWide, Seq.empty)
      val one = Versioned.planDataFiles(spark, dir, vWide,
        Seq(org.apache.spark.sql.sources.EqualTo("id", 3L)))
      assert(all.length == 6 && one.length == 1, s"$one of $all")
    } finally spark.conf.unset("spark.graft.bloom.backfillBytesPerCommit")
  }

  test("format(\"graft\") batch provider: load/save by path, versionAsOf/timestampAsOf travel, manifest-commit writes, masked serve, fresh-path refusal") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val dir = root + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    // reads: latest, by version, by the recorded in-commit clock
    assert(spark.read.format("graft").load(dir).count() == 3)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val t0 = Versioned.commitTimestamp(spark, dir, 0)
    assert(spark.read.format("graft")
      .option("timestampAsOf", t0.toString).load(dir).count() == 2)
    // a DELETE's mask applies through the provider like any other read
    Versioned.deleteByKeys(spark, dir, Seq(2L).toDF("id"), "id")
    assert(spark.read.format("graft").load(dir)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    // writes are MANIFEST COMMITS through the same WriteBuilder as SQL
    Seq((4L, "d")).toDF("id", "v").write.format("graft").mode("append").save(dir)
    assert(Versioned.latestVersion(spark, dir).contains(3),
      "a format-append must land as one commit")
    assert(spark.read.format("graft").load(dir).count() == 3)
    Seq((9L, "z")).toDF("id", "v").write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // …and history survives: the overwrite is a VERSION, not a reset
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .count() == 2)
    // Delta's `.option("replaceWhere", …)` writer idiom: the overwrite
    // scopes to the predicate slice in ONE commit
    val d2 = root + "/rw"
    Versioned.writeVersion(Seq((1L, "F", "x1"), (2L, "O", "y2"), (3L, "F", "x3"))
      .toDF("id", "s", "v"), d2)
    Seq((9L, "F", "z9")).toDF("id", "s", "v")
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "s = 'F'").save(d2)
    assert(spark.read.format("graft").load(d2)
      .select("id").as[Long].collect().toSet == Set(2L, 9L),
      "replaceWhere must swap exactly the predicate slice")
    assert(Versioned.latestVersion(spark, d2).contains(1))
    // …and an APPEND carrying the option refuses
    val eRw = intercept[Exception] {
      Seq((8L, "F", "w")).toDF("id", "s", "v")
        .write.format("graft").mode("append")
        .option("replaceWhere", "s = 'F'").save(d2) }
    def chainMsg(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString(" | ")
    assert(chainMsg(eRw).contains("replaceWhere"), chainMsg(eRw))
    // a path with no committed chain refuses AT SCAN PLANNING (the
    // load itself serves the capability-less placeholder so the
    // streaming-sink probe can pass — the refusal lands on first use,
    // naming the create paths)
    val e = intercept[Exception] {
      spark.read.format("graft").load(root + "/nope").collect() }
    assert(chainMsg(e).contains("no versions committed yet"), chainMsg(e))
  }

  test("format(\"graft\") timestampAsOf resolves wall-clock strings in spark.sql.session.timeZone — same version as SQL TIMESTAMP AS OF, whatever the JVM default zone") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_tz").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Thread.sleep(250)
    val tMid = System.currentTimeMillis()
    Thread.sleep(250)
    Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
    // a zone 5h30 off anything the JVM default plausibly is (and with no
    // DST ambiguity): the same wall-clock STRING names a different
    // instant here than in UTC or any whole-hour JVM zone — if the
    // option parsed via the JVM default, the versions below would skew
    val zone = java.time.ZoneId.of("Asia/Kolkata")
    assert(zone != java.time.ZoneId.systemDefault(),
      "fixture needs session zone != JVM zone")
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(zone)
      .format(java.time.Instant.ofEpochMilli(tMid))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone.getId)
    spark.conf.set("spark.sql.catalog.graft_fmt_tz", "graft.sql.VersionedCatalog")
    try {
      val viaOption = spark.read.format("graft")
        .option("timestampAsOf", lit).load(dir)
        .select("id").as[Long].collect().toSet
      val viaSql = spark.sql(
        s"SELECT id FROM graft_fmt_tz.`$dir` TIMESTAMP AS OF '$lit'")
        .as[Long].collect().toSet
      assert(viaOption == Set(1L, 2L),
        s"option must resolve the mid-commit instant IN THE SESSION ZONE to v0, served $viaOption")
      assert(viaOption == viaSql,
        s"option ($viaOption) and SQL TIMESTAMP AS OF ($viaSql) must pick the same version")
      // epoch-millis input stays zone-free
      assert(spark.read.format("graft")
        .option("timestampAsOf", tMid.toString).load(dir).count() == 2)
      // and garbage refuses with the format named
      val eBad = intercept[Exception] { spark.read.format("graft")
        .option("timestampAsOf", "not a time").load(dir).collect() }
      def chainMsg(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
        .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString(" | ")
      assert(chainMsg(eBad).contains("cannot parse"), chainMsg(eBad))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("positional deletion vectors: any-predicate DELETE as a (file,pos) sidecar — data files untouched, travel intact, later appends unaffected, merge + physical apply, size cap") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_pdv").toString + "/t"
    def mkDf(from: Long, until: Long, parts: Int) =
      spark.range(from, until).select($"id", ($"id" % 10).cast("double").as("price"))
        .repartitionByRange(parts, $"id")
    Versioned.writeVersion(mkDf(0, 100, 4), dir)
    Versioned.writeVersion(mkDf(100, 200, 2), dir, SaveMode.Append)
    val filesBefore = Versioned.planDataFiles(spark, dir, 1, Seq.empty).toSet
    assert(filesBefore.size == 6)
    // a RANGE + multi-column predicate — exactly what the key-set
    // masks cannot express — commits as one sidecar, ZERO rewrite
    val v = Versioned.deleteWhere(spark, dir, "price < 3.0 AND id >= 50").get
    assert(v == 2)
    assert(Versioned.planDataFiles(spark, dir, v, Seq.empty).toSet == filesBefore,
      "a positional DELETE must not touch the data-file list")
    val want = (0L until 200L).filterNot(i => (i % 10) < 3 && i >= 50).toSet
    assert(Versioned.readVersion(spark, dir, v)
      .select("id").as[Long].collect().toSet == want)
    // pre-delete versions still travel
    assert(Versioned.readVersion(spark, dir, 1).count() == 200)
    // positions are file-scoped: a LATER append of a "deleted" row is
    // visible (SQL DELETE's rows-that-exist-now semantics, inherent)
    Versioned.writeVersion(Seq((51L, 0.0)).toDF("id", "price"), dir, SaveMode.Append)
    assert(Versioned.readLatest(spark, dir)
      .filter($"id" === 51L).select("price").as[Double].collect().toSeq == Seq(0.0))
    // zero matches commit nothing
    val vNow = Versioned.latestVersion(spark, dir).get
    assert(Versioned.deleteWhere(spark, dir, "id = -5").isEmpty)
    assert(Versioned.latestVersion(spark, dir).contains(vNow))
    // a second delete accumulates a second sidecar; compaction merges
    // the two into ONE without changing served rows
    Versioned.deleteWhere(spark, dir, "id = 199").get
    def nDv = Versioned.history(spark, dir)
      .orderBy($"version".desc).select("n_dv_dirs").as[Int].head()
    assert(nDv == 2)
    val served = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSet
    assert(Versioned.compactDeletionVectors(spark, dir).nonEmpty)
    assert(nDv == 1)
    assert(Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == served)
    // whole-table compaction applies the positions PHYSICALLY and
    // retires the line; history still travels to the masked version
    val stats = graft.ext.Maintenance.compact(spark, dir,
      targetFileBytes = Long.MaxValue,
      store = graft.ext.ManifestStore)
    assert(stats.filesAfter == 1)
    assert(nDv == 0, "physical apply must retire the positional dv line")
    assert(Versioned.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet == served)
    assert(Versioned.readVersion(spark, dir, v)
      .select("id").as[Long].collect().toSet == want)
    // the size contract refuses while the sidecar is still invisible
    spark.conf.set("spark.graft.dv.maxPositions", "3")
    try {
      val vPre = Versioned.latestVersion(spark, dir).get
      val e = intercept[IllegalArgumentException] {
        Versioned.deleteWhere(spark, dir, "price >= 0.0") }
      assert(e.getMessage.contains("maxPositions"), e.getMessage)
      assert(Versioned.latestVersion(spark, dir).contains(vPre),
        "a refused delete must commit nothing")
    } finally spark.conf.unset("spark.graft.dv.maxPositions")
  }

  test("row tracking: stable _row_id assigned at write and backfill, survives compaction and UPDATE verbatim, keyless changesBetween equals the keyed derive") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_rowtrack").toString + "/t"
    spark.conf.set("spark.sql.catalog.graft_rt", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(spark.range(0, 50)
      .select($"id".as("k"), concat(lit("v"), $"id".cast("string")).as("v"))
      .repartition(2), dir)
    Versioned.writeVersion(spark.range(50, 80)
      .select($"id".as("k"), concat(lit("v"), $"id".cast("string")).as("v"))
      .repartition(2), dir, SaveMode.Append)
    // ENABLE: declaration + backfill; every existing row gets an id
    Versioned.enableRowTracking(spark, dir)
    def idsByKey() = Versioned.readLatest(spark, dir)
      .select("k", Versioned.RowIdCol).as[(Long, Long)].collect().toMap
    val ids0 = idsByKey()
    assert(ids0.size == 80 && ids0.values.toSet.size == 80,
      "backfilled ids must be assigned and distinct")
    // appends CONTINUE above the mark — never repeating
    Versioned.writeVersion(spark.range(80, 90)
      .select($"id".as("k"), lit("x").as("v")), dir, SaveMode.Append)
    val ids1 = idsByKey()
    assert(ids1.size == 90 && ids1.values.toSet.size == 90)
    assert(ids0.forall { case (k, rid) => ids1(k) == rid },
      "appends must not disturb existing ids")
    // ids SURVIVE compaction verbatim (they are columns; the rewrite
    // moves rows with their columns)
    graft.ext.Maintenance.compact(spark, dir, targetFileBytes = Long.MaxValue,
      store = graft.ext.ManifestStore)
    assert(idsByKey() == ids1, "compaction must carry every id verbatim")
    // …and a CoW UPDATE keeps the touched row's id
    spark.sql(s"UPDATE graft_rt.`$dir` SET v = 'updated' WHERE k = 7")
    val ids2 = idsByKey()
    assert(ids2 == ids1, "UPDATE must preserve row ids")
    // keyless CDF: delete one row, append one — the keyless diff
    // classifies exactly like the keyed derive on the natural key
    val vA = Versioned.latestVersion(spark, dir).get
    spark.sql(s"DELETE FROM graft_rt.`$dir` WHERE k = 3")
    Versioned.writeVersion(spark.range(90, 91)
      .select($"id".as("k"), lit("y").as("v")), dir, SaveMode.Append)
    val vB = Versioned.latestVersion(spark, dir).get
    def classified(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "_change_type").as[(Long, String, String)]
        .collect().toSet
    val keyless = classified(Versioned.changesBetween(spark, dir, vA, vB, Seq.empty))
    val keyed = classified(Versioned.changesBetween(spark, dir, vA, vB, Seq("k")))
    assert(keyless == keyed, s"keyless ($keyless) vs keyed ($keyed)")
    assert(keyless.exists(_._3 == "delete") && keyless.exists(_._3 == "insert"))
    // a span reaching BEFORE enablement refuses keyless with the remedy
    val ePre = intercept[IllegalArgumentException] {
      Versioned.changesBetween(spark, dir, 0, vB, Seq.empty) }
    assert(ePre.getMessage.contains("enableRowTracking"), ePre.getMessage)
  }

  test("incremental OPTIMIZE: only dirs appended since the last rearrange rewrite; the clustered base carries verbatim; pruning tight per batch; streams see a rearrange; converges to a no-op") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.EqualTo
    import graft.ext.{Maintenance, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("graft_inczorder").toString + "/t"
    def slice(from: Long, until: Long, parts: Int) =
      spark.range(from, until)
        .select($"id".as("a"), (($"id" * 7919) % 1000).as("b"))
        .repartition(parts)
    Versioned.writeVersion(slice(0, 4000, 4), dir)
    Versioned.writeVersion(slice(4000, 8000, 4), dir, SaveMode.Append)
    // FULL optimize establishes the clustered base (a rearrange commit)
    Maintenance.zorderVersionedCols(spark, dir, Seq("a", "b"), nFiles = 8)
    val vBase = Versioned.latestVersion(spark, dir).get
    assert(Versioned.isRearrange(spark, dir, vBase))
    val baseFiles = Versioned.planDataFiles(spark, dir, vBase, Seq.empty).toSet
    // nothing unclustered right after: the incremental call is a no-op
    assert(Maintenance.zorderVersionedIncremental(spark, dir, Seq("a", "b")).isEmpty)
    // two appends form the increment
    Versioned.writeVersion(slice(8000, 8500, 2), dir, SaveMode.Append)
    Versioned.writeVersion(slice(8500, 9000, 2), dir, SaveMode.Append)
    val vApp = Versioned.latestVersion(spark, dir).get
    val appendedBytes = Versioned.fileBytesOf(spark, dir, vApp,
      Versioned.unclusteredLiveFiles(spark, dir, vApp))
    val (nRewritten, bytesRewritten, vInc) =
      Maintenance.zorderVersionedIncremental(spark, dir, Seq("a", "b"), nFiles = 2).get
    // the rewrite touched EXACTLY the appended files' bytes — the
    // 8-file clustered base carried verbatim by name
    assert(nRewritten == 4 && bytesRewritten == appendedBytes,
      s"rewrote $nRewritten files / $bytesRewritten bytes; appended $appendedBytes")
    val after = Versioned.planDataFiles(spark, dir, vInc, Seq.empty).toSet
    assert(baseFiles.subsetOf(after),
      "the clustered base must carry verbatim through an incremental OPTIMIZE")
    assert((after -- baseFiles).size == 2, s"increment re-landed as 2 files: $after")
    // content preserved; the commit is a rearrange streams skip
    assert(Versioned.isRearrange(spark, dir, vInc))
    assert(Versioned.readLatest(spark, dir).count() == 9000)
    assert(Versioned.readVersion(spark, dir, vApp).count() == 9000)
    // per-file pruning is tight inside BOTH clustered batches: a point
    // predicate keeps few files of the 10
    val kept = Versioned.planDataFiles(spark, dir, vInc, Seq(EqualTo("a", 8600L)))
    assert(kept.size <= 2, s"expected a pruned point lookup, kept $kept")
    // and the cadence converges: a second incremental run is a no-op
    assert(Maintenance.zorderVersionedIncremental(spark, dir, Seq("a", "b")).isEmpty)
  }

  test("partitioned chains: incremental OPTIMIZE clusters within partitions hive-laid-out; row tracking backfills the hive tree once; auto-cluster TBLPROPERTY ticks post-commit") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.{Maintenance, Versioned}
    val root = java.nio.file.Files.createTempDirectory("graft_part16").toString
    spark.conf.set("spark.sql.catalog.graft_pt", "graft.sql.VersionedCatalog")

    // ── incremental OPTIMIZE on a PARTITIONED chain
    val zdir = root + "/z"
    def zslice(from: Long, until: Long, parts: Int) =
      spark.range(from, until).select($"id".as("a"),
        (($"id" * 7919) % 1000).as("b"), ($"id" % 3).as("bucket"))
        .repartition(parts)
    Versioned.writeVersionPartitioned(zslice(0, 3000, 4), zdir, Seq("bucket"))
    // first incremental run clusters EVERYTHING live (no base yet),
    // re-landed hive-laid-out as a rearrange
    val (n0, _, v0) =
      Maintenance.zorderVersionedIncremental(spark, zdir, Seq("a", "b")).get
    assert(n0 > 0 && Versioned.isRearrange(spark, zdir, v0))
    assert(Versioned.versionInfo(spark, zdir, v0).partitionCols == Seq("bucket"))
    val base = Versioned.planDataFiles(spark, zdir, v0, Seq.empty).toSet
    assert(base.forall(_.contains("bucket=")),
      s"the replacement must re-land hive-laid-out: $base")
    // append an increment; the second run rewrites exactly it
    Versioned.writeVersionPartitioned(zslice(3000, 3600, 2), zdir, Seq("bucket"),
      SaveMode.Append)
    val vApp = Versioned.latestVersion(spark, zdir).get
    val appendedBytes = Versioned.fileBytesOf(spark, zdir, vApp,
      Versioned.unclusteredLiveFiles(spark, zdir, vApp))
    val (n1, b1, v1) =
      Maintenance.zorderVersionedIncremental(spark, zdir, Seq("a", "b")).get
    assert(b1 == appendedBytes, s"must rewrite exactly the increment: $b1 vs $appendedBytes")
    assert(base.subsetOf(Versioned.planDataFiles(spark, zdir, v1, Seq.empty).toSet),
      "the clustered base must carry verbatim by name")
    assert(Versioned.readLatest(spark, zdir).count() == 3600)
    // partition pruning serves through the clustered layout
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pt.`$zdir` WHERE bucket = 1")
      .as[Long].head() == 1200)
    assert(Maintenance.zorderVersionedIncremental(spark, zdir, Seq("a", "b")).isEmpty,
      "the cadence converges")

    // ── row tracking on a PARTITIONED chain
    val rdir = root + "/r"
    Versioned.writeVersionPartitioned(
      spark.range(0, 900).select($"id", ($"id" % 3).as("cat")), rdir, Seq("cat"))
    val rv = Versioned.enableRowTracking(spark, rdir)
    assert(rv == Versioned.latestVersion(spark, rdir).get)
    assert(Versioned.isRearrange(spark, rdir, rv), "the backfill is a rearrange")
    assert(Versioned.versionInfo(spark, rdir, rv).partitionCols == Seq("cat"))
    val ids0 = Versioned.readLatest(spark, rdir)
      .select(Versioned.RowIdCol).as[Long].collect()
    assert(ids0.length == 900 && ids0.toSet.size == 900, "backfilled ids distinct")
    // appends keep assigning ABOVE the mark, hive-laid-out
    Versioned.writeVersionPartitioned(
      spark.range(900, 1000).select($"id", ($"id" % 3).as("cat")), rdir, Seq("cat"),
      SaveMode.Append)
    val ids1 = Versioned.readLatest(spark, rdir)
      .select(Versioned.RowIdCol).as[Long].collect()
    assert(ids1.length == 1000 && ids1.toSet.size == 1000,
      "appended ids must not collide with backfilled ones")
    // partition pruning intact after the backfill
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pt.`$rdir` WHERE cat = 2")
      .as[Long].head() == 333)

    // ── auto-cluster tick, TBLPROPERTY-driven (no session conf)
    val adir = root + "/a"
    def aslice(from: Long, until: Long) =
      spark.range(from, until).select($"id".as("a"),
        (($"id" * 104729) % 500).as("b")).repartition(2)
    Versioned.writeVersion(aslice(0, 500), adir)
    spark.sql(s"ALTER TABLE graft_pt.`$adir` SET TBLPROPERTIES(" +
      "'graft.autoCluster.columns'='a,b', 'graft.autoCluster.minBytes'='1')")
    Versioned.writeVersion(aslice(500, 1000), adir, SaveMode.Append)
    val av = Versioned.latestVersion(spark, adir).get
    assert(Versioned.isRearrange(spark, adir, av),
      "the post-commit tick must have clustered the increment")
    assert(Versioned.unclusteredLiveFiles(spark, adir, av)
      .valuesIterator.forall(_.isEmpty), "everything live is clustered base")
    assert(Versioned.readLatest(spark, adir).count() == 1000)
    // a session-conf override (empty) disables the tick both ways
    spark.conf.set("spark.graft.autoCluster.columns", "")
    try {
      Versioned.writeVersion(aslice(1000, 1100), adir, SaveMode.Append)
      val av2 = Versioned.latestVersion(spark, adir).get
      assert(!Versioned.isRearrange(spark, adir, av2),
        "an empty session override must silence the property-driven tick")
    } finally spark.conf.unset("spark.graft.autoCluster.columns")
    // next committed write re-probes and picks the leftover up
    Versioned.writeVersion(aslice(1100, 1200), adir, SaveMode.Append)
    val av3 = Versioned.latestVersion(spark, adir).get
    assert(Versioned.isRearrange(spark, adir, av3) &&
      Versioned.unclusteredLiveFiles(spark, adir, av3)
        .valuesIterator.forall(_.isEmpty),
      "the re-probe must cluster the accumulated increment")
    assert(Versioned.readLatest(spark, adir).count() == 1200)
  }

  test("delta row ops record a keyed change feed when the table opts in: graft.cdf.keys property; row-tracked tables default on _row_id; changesBetween serves the RECORDED feed") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_cdfdelta").toString
    spark.conf.set("spark.sql.catalog.graft_cf", "graft.sql.VersionedCatalog")

    // explicit keys via TBLPROPERTY
    val dir = root + "/t"
    Versioned.writeVersion(spark.range(0, 100)
      .select($"id", ($"id" % 10).cast("double").as("price")), dir)
    spark.sql(s"ALTER TABLE graft_cf.`$dir` SET TBLPROPERTIES('graft.cdf.keys'='id')")
    // UPDATE: masked pre-images + reinserts classify as update pairs
    spark.sql(s"UPDATE graft_cf.`$dir` SET price = price + 100 WHERE id % 10 = 3 AND id < 40")
    val vU = Versioned.latestVersion(spark, dir).get
    assert(Versioned.hasRecordedChanges(spark, dir, vU - 1, vU, Seq("id")),
      "the delta UPDATE must record its feed in the same commit")
    val fed = Versioned.changesBetween(spark, dir, vU - 1, vU, Seq("id"))
      .select("id", "price", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    val wantU = (0L until 40L).filter(_ % 10 == 3).flatMap(i =>
      Seq((i, (i % 10).toDouble, "update_preimage"),
          (i, (i % 10) + 100.0, "update_postimage"))).toSet
    assert(fed == wantU, s"feed mismatch: ${fed -- wantU} / ${wantU -- fed}")
    // untranslatable DELETE (delta path): delete rows recorded
    spark.sql(s"DELETE FROM graft_cf.`$dir` WHERE pmod(id, 9) = 4 AND price < 50")
    val vD = Versioned.latestVersion(spark, dir).get
    assert(Versioned.hasRecordedChanges(spark, dir, vD - 1, vD, Seq("id")))
    val fedD = Versioned.changesBetween(spark, dir, vD - 1, vD, Seq("id"))
      .select("_change_type").as[String].collect()
    assert(fedD.nonEmpty && fedD.forall(_ == "delete"), fedD.mkString(","))
    // ...and the recorded feed EQUALS the derive for the same span
    val derived = graft.ext.Versioned.changesBetween(spark, dir, vD - 1, vD, Seq("id"))
    assert(derived.count() == fedD.length)

    // row-tracked table + graft.cdf.enabled: keyless feed on _row_id
    val rdir = root + "/r"
    Versioned.writeVersion(spark.range(0, 50)
      .select($"id".as("k"), lit(1.0).as("w")), rdir)
    Versioned.enableRowTracking(spark, rdir)
    spark.conf.set("spark.graft.cdf.enabled", "true")
    try {
      spark.sql(s"UPDATE graft_cf.`$rdir` SET w = 2.0 WHERE k >= 45")
      val rv = Versioned.latestVersion(spark, rdir).get
      assert(Versioned.hasRecordedChanges(spark, rdir, rv - 1, rv,
        Seq(Versioned.RowIdCol)),
        "an enabled row-tracked table must key its feed on _row_id")
      // the KEYLESS changesBetween serves the recorded feed directly
      val kl = Versioned.changesBetween(spark, rdir, rv - 1, rv, Seq.empty)
        .select("k", "w", "_change_type").as[(Long, Double, String)].collect().toSet
      val wantR = (45L until 50L).flatMap(i =>
        Seq((i, 1.0, "update_preimage"), (i, 2.0, "update_postimage"))).toSet
      assert(kl == wantR, s"keyless feed mismatch: $kl")
    } finally spark.conf.unset("spark.graft.cdf.enabled")

    // not opted in: no feed line (the commit stays mask+append only)
    val ndir = root + "/n"
    Versioned.writeVersion(spark.range(0, 20)
      .select($"id", lit(1.0).as("w")), ndir)
    spark.sql(s"UPDATE graft_cf.`$ndir` SET w = 9.0 WHERE id = 3")
    val nv = Versioned.latestVersion(spark, ndir).get
    assert(!Versioned.hasRecordedChanges(spark, ndir, nv - 1, nv, Seq("id")),
      "without the property no feed is recorded")
  }

  test("COPY INTO: per-file idempotent ingestion — re-runs skip the ledger, new files load alone, the ledger rides overwrites, partitioned + renamed targets, csv by name with casts, feature lifecycle") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_copyinto").toString
    spark.conf.set("spark.sql.catalog.graft_ci", "graft.sql.VersionedCatalog")

    // source: two parquet batches in one dir tree (a subdir too)
    val src = root + "/src"
    spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS price")
      .coalesce(2).write.parquet(src + "/b0")
    spark.range(100, 150).selectExpr("id", "CAST(id AS DOUBLE) AS price")
      .coalesce(1).write.parquet(src + "/b1")

    val dir = root + "/t"
    spark.sql(s"CREATE TABLE graft_ci.`$dir` (id BIGINT, price DOUBLE)")
    // first run loads all three files as ONE append
    val Some((n1, r1, v1)) = Versioned.copyInto(spark, dir, src)
    assert(n1 == 3 && r1 == 150L && v1 == Versioned.latestVersion(spark, dir).get)
    assert(Versioned.readLatest(spark, dir).count() == 150)
    // idempotent: the re-run is a no-op, not a double-load
    assert(Versioned.copyInto(spark, dir, src).isEmpty)
    // a NEW file loads alone
    spark.range(150, 170).selectExpr("id", "CAST(id AS DOUBLE) AS price")
      .coalesce(1).write.parquet(src + "/b2")
    val Some((n2, r2, _)) = Versioned.copyInto(spark, dir, src)
    assert(n2 == 1 && r2 == 20L)
    assert(Versioned.readLatest(spark, dir).count() == 170)
    // the ledger survives a maintenance OVERWRITE (the exactly-once
    // window must never re-open)
    Versioned.writeVersion(Versioned.readLatest(spark, dir), dir)
    assert(Versioned.copyInto(spark, dir, src).isEmpty,
      "an overwrite must not forget which files were ingested")
    // feature lifecycle: stamped optional; drop refuses while the
    // ledger is live, names the remedy; forget + drop succeed
    assert(Versioned.tableFeatures(spark, dir,
      Versioned.latestVersion(spark, dir).get).contains(("ingest", false)))
    val eLive = intercept[IllegalArgumentException] {
      spark.sql(s"CALL graft_ci.system.drop_feature('$dir', 'ingest')") }
    assert(eLive.getMessage.contains("forgetIngestHistory"), eLive.getMessage)
    assert(spark.sql(s"CALL graft_ci.system.forget_ingests('$dir')")
      .as[Int].head() == Versioned.latestVersion(spark, dir).get)
    assert(Versioned.dropTableFeature(spark, dir, "ingest").nonEmpty)
    // after the forget, a re-run re-loads (documented semantics)
    val Some((n3, _, _)) = Versioned.copyInto(spark, dir, src)
    assert(n3 == 4, "a forgotten ledger re-considers every file")

    // refusal: a source column the target lacks names the remedy
    val bad = root + "/bad"
    spark.range(0, 5).selectExpr("id", "CAST(id AS DOUBLE) AS price",
      "'x' AS extra").write.parquet(bad)
    val eCol = intercept[IllegalArgumentException] {
      Versioned.copyInto(spark, dir, bad) }
    assert(eCol.getMessage.contains("extra") &&
      eCol.getMessage.contains("ADD COLUMNS"), eCol.getMessage)

    // PARTITIONED target: fresh files land hive-laid-out, pruning serves
    val pdir = root + "/p"
    val psrc = root + "/psrc"
    spark.range(0, 90).selectExpr("id", "CAST(id % 3 AS INT) AS bucket")
      .coalesce(1).write.parquet(psrc)
    spark.sql(s"CREATE TABLE graft_ci.`$pdir` (id BIGINT, bucket INT) " +
      "PARTITIONED BY (bucket)")
    val Some((pn, pr, pv)) = Versioned.copyInto(spark, pdir, psrc)
    assert(pn == 1 && pr == 90L)
    assert(Versioned.versionInfo(spark, pdir, pv).partitionCols == Seq("bucket"))
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_ci.`$pdir` WHERE bucket = 1")
      .as[Long].head() == 30)
    // idempotent there too
    assert(Versioned.copyInto(spark, pdir, psrc).isEmpty)

    // RENAMED target: alignment is by LOGICAL name; files land physical
    val rdir = root + "/r"
    spark.sql(s"CREATE TABLE graft_ci.`$rdir` (id BIGINT, score DOUBLE)")
    Versioned.renameColumns(spark, rdir, Seq("score" -> "rating"))
    val rsrc = root + "/rsrc"
    spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS rating")
      .coalesce(1).write.parquet(rsrc)
    assert(Versioned.copyInto(spark, rdir, rsrc).map(_._2).contains(10L))
    assert(spark.sql(s"SELECT sum(rating) AS s FROM graft_ci.`$rdir`")
      .as[Double].head() == 45.0)

    // CSV with an explicit schema: by-name alignment + casts; the SQL
    // procedure drives the same ingestion
    val cdir = root + "/c"
    spark.sql(s"CREATE TABLE graft_ci.`$cdir` (id BIGINT, price DOUBLE)")
    val csrc = root + "/csrc"
    new java.io.File(csrc).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(csrc + "/a.csv"),
      "id,price\n1,10.5\n2,20.5\n".getBytes("UTF-8"))
    val Some((cn, cr, _)) = Versioned.copyInto(spark, cdir, csrc, format = "csv",
      options = Map("header" -> "true", "inferSchema" -> "true"))
    assert(cn == 1 && cr == 2L)
    assert(spark.sql(s"SELECT sum(price) AS s FROM graft_ci.`$cdir`")
      .as[Double].head() == 31.0)
    val idle = spark.sql(
      s"CALL graft_ci.system.copy_into('$cdir', '$csrc', 'csv')").collect()
    assert(idle.length == 1 && idle.head.isNullAt(0),
      "the procedure's re-run must be the NULL no-op row")
  }

  test("checkpoint spill: an over-budget checkpoint externalizes its largest inline stats to sidecars — blob bytes bounded, reads/skipping/travel exact, prune's boundary materialization intact") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_ckspill").toString + "/t"
    val budget = 4096L
    spark.conf.set("spark.graft.checkpoint.spillBytes", budget.toString)
    try {
      // 11 commits whose stats lines GROW with i (longer string
      // bounds), so the v10 checkpoint exceeds the budget and the
      // largest-first spill has a genuine small tail to keep inline
      def slice(i: Int) = spark.range(i * 10, i * 10 + 10)
        .select($"id", concat(lit("v" * (5 + i * 20) + "_"), $"id".cast("string")).as("tag"))
        .coalesce(1)
      Versioned.writeVersion(slice(0), dir)
      (1 to 10).foreach(i => Versioned.writeVersion(slice(i), dir, SaveMode.Append))
      val ckFile = new java.io.File(s"$dir/_versions/00000010.checkpoint")
      assert(ckFile.exists, "v10 is checkpoint-due (default interval 10)")
      assert(ckFile.length <= budget,
        s"the spilled checkpoint must fit the byte budget, got ${ckFile.length}")
      val ckText = {
        val src = scala.io.Source.fromFile(ckFile, "UTF-8")
        try src.mkString finally src.close()
      }
      assert(ckText.contains("statsref:"),
        "heavy inline stats must have moved to content-addressed sidecars")
      assert(ckText.contains("stats:"),
        "largest-first spill keeps the small tail inline, never wholesale")
      // reads, skipping and travel serve EXACTLY through the refs
      assert(Versioned.readLatest(spark, dir).count() == 110)
      assert(Versioned.readVersion(spark, dir, 4).count() == 50)
      import org.apache.spark.sql.sources.EqualTo
      assert(Versioned.planDataFiles(spark, dir, 10, Seq(EqualTo("id", 55L))).size == 1,
        "per-file skipping stays exact through the spilled refs")
      // prune: the boundary materialization writes ITS checkpoint
      // under the same budget, and the reclaim pass must keep every
      // sidecar a surviving CHECKPOINT references
      Versioned.pruneVersions(spark, dir, keepLast = 3, orphanMinAgeMs = 0L)
      assert(Versioned.readLatest(spark, dir).count() == 110)
      assert(Versioned.readVersion(spark, dir, 8).count() == 90)
      assert(Versioned.planDataFiles(spark, dir, 10, Seq(EqualTo("id", 55L))).size == 1)
    } finally spark.conf.unset("spark.graft.checkpoint.spillBytes")
  }

  test("protocol feature flags: pdv deletes stamp feature:pdv:required; an unknown REQUIRED feature refuses naming it; unknown OPTIONAL carries and is ignored; DROP FEATURE refuses while in use") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_feat").toString + "/t"
    Versioned.writeVersion(spark.range(0, 20)
      .select($"id", ($"id" % 10).cast("double").as("price")), dir)
    // the first positional delete stamps the feature; reads by THIS
    // build keep working (it supports pdv)
    val v1 = Versioned.deleteWhere(spark, dir, "price < 3.0 AND id >= 5").get
    assert(Versioned.tableFeatures(spark, dir, v1) == Seq(("pdv", true)))
    assert(Versioned.tableFeatures(spark, dir, 0).isEmpty,
      "features are versioned: the pre-delete manifest declares nothing")
    // a second pdv delete does NOT re-stamp
    Versioned.deleteWhere(spark, dir, "id = 19")
    assert(Versioned.tableFeatures(spark, dir,
      Versioned.latestVersion(spark, dir).get).count(_._1 == "pdv") == 1)
    // the feature rides appends with the masks it gates
    Versioned.writeVersion(Seq((100L, 0.0)).toDF("id", "price"), dir, SaveMode.Append)
    assert(Versioned.tableFeatures(spark, dir,
      Versioned.latestVersion(spark, dir).get) == Seq(("pdv", true)))
    // DROP FEATURE refuses while positional masks are live…
    val eIn = intercept[IllegalArgumentException] {
      Versioned.dropTableFeature(spark, dir, "pdv") }
    assert(eIn.getMessage.contains("still live"), eIn.getMessage)
    // …succeeds after the masks apply physically, as one commit
    graft.ext.Maintenance.compact(spark, dir,
      targetFileBytes = Long.MaxValue,
      store = graft.ext.ManifestStore)
    assert(Versioned.dropTableFeature(spark, dir, "pdv").nonEmpty)
    assert(Versioned.tableFeatures(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)
    assert(Versioned.dropTableFeature(spark, dir, "pdv").isEmpty, "idempotent")
    // an unknown REQUIRED feature refuses BY NAME; optional is ignored.
    // A FUTURE writer's manifests are emulated as full line sets: the
    // live data dirs plus the new declaration (no schema line — the
    // mergeSchema fallback serves)
    val v = Versioned.latestVersion(spark, dir).get
    val dirNames = Versioned.versionInfo(spark, dir, v).dataDirs
      .map(d => d.substring(d.lastIndexOf('/') + 1))
    Versioned.commitManifest(spark, dir, v + 1,
      dirNames :+ "feature:quantum_masks:required")
    val eReq = intercept[IllegalStateException] {
      Versioned.readVersion(spark, dir, v + 1).count() }
    assert(eReq.getMessage.contains("quantum_masks") &&
      eReq.getMessage.contains("upgrade"), eReq.getMessage)
    // …and the PREVIOUS version still reads (gating is per manifest)
    assert(Versioned.readVersion(spark, dir, v).count() ==
      20 - 3 - 1 + 1) // ids 10,11,12 then 19 deleted (applied physically), one append
    Versioned.commitManifest(spark, dir, v + 2,
      dirNames :+ "feature:hints_v2:optional")
    assert(Versioned.readVersion(spark, dir, v + 2).count() ==
      Versioned.readVersion(spark, dir, v).count(),
      "an unsupported OPTIONAL feature must be ignored")
    assert(Versioned.tableFeatures(spark, dir, v + 2) == Seq(("hints_v2", false)),
      "the optional declaration itself carries verbatim")
  }

  test("_file/_pos metadata columns: row addresses on flat/partitioned/renamed chains, manifest spelling parity with pdv sidecars, masked reads, SELECT * unaffected, data-column conflict hides them") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_rowids").toString
    val dir = root + "/t"
    spark.conf.set("spark.sql.catalog.graft_mc", "graft.sql.VersionedCatalog")
    def mkDf(from: Long, until: Long, parts: Int) =
      spark.range(from, until).select($"id", ($"id" % 7).cast("double").as("price"))
        .repartitionByRange(parts, $"id")
    Versioned.writeVersion(mkDf(0, 100, 3), dir)
    Versioned.writeVersion(mkDf(100, 160, 2), dir, SaveMode.Append)
    val rows = spark.sql(s"SELECT id, _file, _pos FROM graft_mc.`$dir`")
      .as[(Long, String, Long)].collect()
    assert(rows.length == 160)
    // every row uniquely addressed; files spelled as the manifest does
    assert(rows.map(r => (r._2, r._3)).toSet.size == 160, "addresses must be unique")
    val dirNames = Versioned.versionInfo(spark, dir, 1).dataDirs
      .map(d => d.substring(d.lastIndexOf('/') + 1))
    assert(rows.forall(r => dirNames.exists(d => r._2.startsWith(d + "/"))),
      s"_file must be manifest-relative; got ${rows.head._2}")
    assert(rows.forall(_._3 >= 0))
    // spelling parity with the pdv machinery: the sidecar a positional
    // DELETE writes for id=7 names EXACTLY the (_file,_pos) this read
    // served for id=7
    val addr7 = rows.find(_._1 == 7L).get
    spark.sql(s"DELETE FROM graft_mc.`$dir` WHERE id = 7 AND price > -1")
    val pdvDirs = Versioned.versionInfo(spark, dir,
      Versioned.latestVersion(spark, dir).get).posDvs
    assert(pdvDirs.nonEmpty, "the two-column predicate must route positionally")
    val sidecar = spark.read.parquet(pdvDirs: _*).as[(String, Long)].collect().toSet
    assert(sidecar == Set((addr7._2, addr7._3)),
      s"sidecar $sidecar must equal the served address $addr7")
    // the masked read still serves addresses — minus the deleted row
    val after = spark.sql(s"SELECT id, _file, _pos FROM graft_mc.`$dir`")
      .as[(Long, String, Long)].collect()
    assert(after.length == 159 && !after.exists(_._1 == 7L))
    // projection-only and * shapes unaffected
    assert(spark.sql(s"SELECT * FROM graft_mc.`$dir`").columns.toSeq ==
      Seq("id", "price"))
    assert(spark.sql(s"SELECT _pos FROM graft_mc.`$dir` WHERE id = 8")
      .as[Long].head() >= 0)
    // PARTITIONED chain: addresses carry the hive subpath
    val pdir = root + "/p"
    Versioned.writeVersionPartitioned(
      spark.range(0, 60).select($"id", ($"id" % 3).as("bucket")), pdir, Seq("bucket"))
    val prows = spark.sql(s"SELECT id, _file, _pos FROM graft_mc.`$pdir`")
      .as[(Long, String, Long)].collect()
    assert(prows.length == 60 && prows.forall(_._2.contains("bucket=")))
    assert(prows.map(r => (r._2, r._3)).toSet.size == 60)
    // RENAMED chain: metadata names don't rename; data flows logical
    Versioned.renameColumns(spark, dir, Seq("price" -> "cost"))
    val mrows = spark.sql(s"SELECT cost, _file FROM graft_mc.`$dir` WHERE id = 8")
      .as[(Double, String)].collect()
    assert(mrows.length == 1 && mrows.head._1 == 1.0 &&
      dirNames.exists(d => mrows.head._2.startsWith(d + "/")))
    // a table OWNING a `_file` data column hides the metadata: the
    // user's column serves
    val cdir = root + "/c"
    Versioned.writeVersion(Seq((1L, "mine")).toDF("id", "_file"), cdir)
    assert(spark.sql(s"SELECT _file FROM graft_mc.`$cdir`")
      .as[String].head() == "mine")
  }

  test("delta-based UPDATE: position mask + appended rows, zero file rewrite — flat chain, travel, compaction applies, cow fallback by conf") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_deltaup").toString
    val dir = root + "/t"
    spark.conf.set("spark.sql.catalog.graft_du", "graft.sql.VersionedCatalog")
    def mkDf(from: Long, until: Long, parts: Int) =
      spark.range(from, until).select($"id", ($"id" % 10).cast("double").as("price"))
        .repartitionByRange(parts, $"id")
    Versioned.writeVersion(mkDf(0, 100, 4), dir)
    Versioned.writeVersion(mkDf(100, 200, 2), dir, SaveMode.Append)
    val before = Versioned.planDataFiles(spark, dir, 1, Seq.empty).toSet
    // a selective UPDATE: every pre-existing file carries VERBATIM;
    // the commit adds one position mask and one appended dir
    spark.sql(s"UPDATE graft_du.`$dir` SET price = price + 100 WHERE id % 10 = 3 AND id < 50")
    val v = Versioned.latestVersion(spark, dir).get
    val after = Versioned.planDataFiles(spark, dir, v, Seq.empty).toSet
    assert(before.subsetOf(after), "UPDATE must not rewrite any pre-existing file")
    val info = Versioned.versionInfo(spark, dir, v)
    assert(info.posDvs.length == 1, s"expected one position mask, got $info")
    // served content: exactly the UPDATE semantics
    val got = spark.sql(s"SELECT id, price FROM graft_du.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 200)
    (0L until 200L).foreach { i =>
      val want = if (i % 10 == 3 && i < 50) (i % 10) + 100.0 else (i % 10).toDouble
      assert(got(i) == want, s"id=$i got ${got(i)} want $want")
    }
    // travel: the pre-update version is untouched
    assert(spark.sql(s"SELECT sum(price) AS s FROM graft_du.`$dir` VERSION AS OF 1")
      .as[Double].head() == (0L until 200L).map(_ % 10).sum.toDouble)
    // compaction applies the mask physically and the content holds
    graft.ext.Maintenance.compact(spark, dir, targetFileBytes = Long.MaxValue,
      store = graft.ext.ManifestStore)
    val vc = Versioned.latestVersion(spark, dir).get
    assert(Versioned.versionInfo(spark, dir, vc).posDvs.isEmpty)
    assert(spark.sql(s"SELECT id, price FROM graft_du.`$dir`")
      .as[(Long, Double)].collect().toMap == got)
    // cow fallback: same statement under rowops.mode=cow rewrites
    // files instead of masking (no new pdv line)
    spark.conf.set("spark.graft.rowops.mode", "cow")
    try {
      spark.sql(s"UPDATE graft_du.`$dir` SET price = 0.0 WHERE id = 7")
      val v2 = Versioned.latestVersion(spark, dir).get
      assert(Versioned.versionInfo(spark, dir, v2).posDvs.isEmpty,
        "cow mode must not commit position masks")
      assert(spark.sql(s"SELECT price FROM graft_du.`$dir` WHERE id = 7")
        .as[Double].head() == 0.0)
    } finally spark.conf.unset("spark.graft.rowops.mode")
  }

  test("delta-based row ops widen: MERGE and untranslatable DELETE as mask+append; partitioned and renamed chains; masked tables never resurrect; streams see delete+insert") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_deltamix").toString
    val dir = root + "/t"
    spark.conf.set("spark.sql.catalog.graft_dm", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(spark.range(0, 100)
      .select($"id", ($"id" % 10).cast("double").as("price")).repartition(4), dir)
    val before = Versioned.planDataFiles(spark, dir, 0, Seq.empty).toSet
    // MERGE: matched updates + unmatched inserts, one mask + one dir
    spark.range(95, 110).select($"id", lit(555.0).as("price"))
      .createOrReplaceTempView("dm_src")
    spark.sql(
      s"""MERGE INTO graft_dm.`$dir` t USING dm_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.price = s.price
         |WHEN NOT MATCHED THEN INSERT (id, price) VALUES (s.id, s.price)""".stripMargin)
    val v1 = Versioned.latestVersion(spark, dir).get
    assert(before.subsetOf(Versioned.planDataFiles(spark, dir, v1, Seq.empty).toSet),
      "MERGE must not rewrite any pre-existing file")
    assert(Versioned.versionInfo(spark, dir, v1).posDvs.length == 1)
    val got1 = spark.sql(s"SELECT id, price FROM graft_dm.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got1.size == 110 && (95L until 110L).forall(got1(_) == 555.0) &&
      got1(94L) == 4.0)
    // untranslatable DELETE (pmod is no V1 filter): still mask-only
    val filesPre = Versioned.planDataFiles(spark, dir, v1, Seq.empty).toSet
    spark.sql(s"DELETE FROM graft_dm.`$dir` WHERE pmod(id, 7) = 3 AND price < 100")
    val v2 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.planDataFiles(spark, dir, v2, Seq.empty).toSet == filesPre,
      "untranslatable DELETE must add no data dir and rewrite nothing")
    val want2 = got1.keySet.filterNot(i => i % 7 == 3 && got1(i) < 100)
    assert(spark.sql(s"SELECT id FROM graft_dm.`$dir`").as[Long].collect().toSet == want2)
    // …and a second UPDATE on the ALREADY-masked table must not
    // resurrect masked rows (the candidate scan applies the masks)
    spark.sql(s"UPDATE graft_dm.`$dir` SET price = 77.0 WHERE id < 5")
    val got3 = spark.sql(s"SELECT id, price FROM graft_dm.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got3.keySet == want2, s"resurrected: ${got3.keySet -- want2}")
    assert((0L until 5L).filter(want2).forall(got3(_) == 77.0))
    // PARTITIONED chain: mask + hive-laid-out appended dir
    val pdir = root + "/p"
    Versioned.writeVersionPartitioned(spark.range(0, 90)
      .select($"id", ($"id" % 3).as("bucket"), lit(1.0).as("w")), pdir, Seq("bucket"))
    val pBefore = Versioned.planDataFiles(spark, pdir, 0, Seq.empty).toSet
    spark.sql(s"UPDATE graft_dm.`$pdir` SET w = 9.0 WHERE id >= 80")
    val pv = Versioned.latestVersion(spark, pdir).get
    assert(pBefore.subsetOf(Versioned.planDataFiles(spark, pdir, pv, Seq.empty).toSet))
    assert(Versioned.versionInfo(spark, pdir, pv).posDvs.length == 1)
    val pg = spark.sql(s"SELECT id, bucket, w FROM graft_dm.`$pdir`")
      .as[(Long, Long, Double)].collect()
    assert(pg.length == 90 && pg.forall { case (i, b, w) =>
      b == i % 3 && w == (if (i >= 80) 9.0 else 1.0) })
    // partition pruning still serves the updated rows (they re-landed
    // hive-laid-out)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_dm.`$pdir` WHERE bucket = 2")
      .as[Long].head() == 30)
    // RENAMED chain: the staged insert carries PHYSICAL names
    val rdir = root + "/r"
    Versioned.writeVersion(spark.range(0, 40)
      .select($"id", ($"id" % 5).cast("double").as("score")), rdir)
    Versioned.renameColumns(spark, rdir, Seq("score" -> "rating"))
    spark.sql(s"UPDATE graft_dm.`$rdir` SET rating = 50.0 WHERE rating < 2 AND id >= 20")
    assert(Versioned.versionInfo(spark, rdir,
      Versioned.latestVersion(spark, rdir).get).posDvs.length == 1)
    val rg = spark.sql(s"SELECT id, rating FROM graft_dm.`$rdir`")
      .as[(Long, Double)].collect().toMap
    assert(rg.size == 40 && (0L until 40L).forall { i =>
      rg(i) == (if (i % 5 < 2 && i >= 20) 50.0 else (i % 5).toDouble) })
    // STREAMS: a delta commit feeds as its parts — deletes (with
    // ignoreDeletes) skipped, inserts delivered
    val sdir = root + "/s"
    Versioned.writeVersion(spark.range(0, 20)
      .select($"id", ($"id" % 10).cast("double").as("price")), sdir)
    val ckpt = root + "/ckpt"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("path", sdir).option("ignoreDeletes", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id").as[Long].collect().foreach(out.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(out.size == 20)
    out.clear()
    spark.sql(s"UPDATE graft_dm.`$sdir` SET price = 42.0 WHERE id IN (3, 4) AND price < 100")
    drain()
    val delivered = out.iterator()
    val got = Iterator.continually(delivered).takeWhile(_.hasNext).map(_.next()).toSet
    assert(got == Set(3L, 4L),
      s"the stream must deliver exactly the update's re-inserted rows, got $got")
  }

  test("positional deletion vectors (SQL): non-key DELETE is a metadata commit — file list unchanged, filtered/aggregate reads masked, UPDATE never resurrects, key routing intact, partitioned + renamed chains") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_pdvsql").toString
    val dir = root + "/t"
    spark.conf.set("spark.sql.catalog.graft_pp", "graft.sql.VersionedCatalog")
    def mkDf(from: Long, until: Long, parts: Int) =
      spark.range(from, until).select($"id", ($"id" % 10).cast("double").as("price"))
        .repartitionByRange(parts, $"id")
    Versioned.writeVersion(mkDf(0, 100, 4), dir)
    Versioned.writeVersion(mkDf(100, 200, 2), dir, SaveMode.Append)
    val before = Versioned.planDataFiles(spark, dir, 1, Seq.empty).toSet
    // ROUTING: a range+multi-column predicate takes the positional
    // metadata path — no file rewritten, one dv line committed
    spark.sql(s"DELETE FROM graft_pp.`$dir` WHERE price < 3.0 AND id >= 50")
    val v = Versioned.latestVersion(spark, dir).get
    assert(Versioned.planDataFiles(spark, dir, v, Seq.empty).toSet == before,
      "non-key DELETE must be a metadata commit")
    val want = (0L until 200L).filterNot(i => (i % 10) < 3 && i >= 50).toSet
    assert(spark.sql(s"SELECT id FROM graft_pp.`$dir`").as[Long].collect().toSet == want)
    // the mask composes with pushdown shapes: filtered read, aggregate
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pp.`$dir` WHERE id >= 50")
      .as[Long].head() == want.count(_ >= 50))
    assert(spark.sql(
        s"SELECT sum(price) AS s FROM graft_pp.`$dir` WHERE id >= 190")
      .as[Double].head() == (190L until 200L).filter(want).map(_ % 10).sum.toDouble)
    // travel: the pre-delete version serves every row
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_pp.`$dir` VERSION AS OF 1")
      .as[Long].head() == 200)
    // UPDATE (copy-on-write) against the masked table: the candidate
    // scan applies the positions, so deleted rows never resurrect
    spark.sql(s"UPDATE graft_pp.`$dir` SET price = 99.0 WHERE id = 55")
    val got2 = spark.sql(s"SELECT id, price FROM graft_pp.`$dir`")
      .as[(Long, Double)].collect().toMap
    assert(got2.keySet == want, s"UPDATE resurrected deleted rows: ${got2.keySet -- want}")
    assert(got2(55L) == 99.0)
    // KEY routing is untouched: a single-key DELETE lands a key mask
    // (still no file change), both masks compose on the same read
    val filesPreKey = Versioned.planDataFiles(spark, dir,
      Versioned.latestVersion(spark, dir).get, Seq.empty).toSet
    spark.sql(s"DELETE FROM graft_pp.`$dir` WHERE id = 42")
    assert(Versioned.planDataFiles(spark, dir,
      Versioned.latestVersion(spark, dir).get, Seq.empty).toSet == filesPreKey)
    assert(spark.sql(s"SELECT id FROM graft_pp.`$dir`").as[Long].collect().toSet ==
      want - 42L)
    // PARTITIONED chain: the positional mask rides the hive layout
    // (partition values re-attach after the row-index column)
    val pdir = root + "/p"
    spark.sql(s"CREATE TABLE graft_pp.`$pdir` (id BIGINT, price DOUBLE, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO graft_pp.`$pdir` " +
      "SELECT id, CAST(id % 10 AS DOUBLE), CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END " +
      "FROM range(100)")
    val pFiles = Versioned.planDataFiles(spark, pdir,
      Versioned.latestVersion(spark, pdir).get, Seq.empty).toSet
    spark.sql(s"DELETE FROM graft_pp.`$pdir` WHERE price < 3.0 AND cat = 'a'")
    assert(Versioned.planDataFiles(spark, pdir,
      Versioned.latestVersion(spark, pdir).get, Seq.empty).toSet == pFiles)
    val wantP = (0L until 100L).filterNot(i => (i % 10) < 3 && i % 2 == 0).toSet
    assert(spark.sql(s"SELECT id FROM graft_pp.`$pdir`").as[Long].collect().toSet == wantP)
    assert(spark.sql(s"SELECT id FROM graft_pp.`$pdir` WHERE cat = 'a'")
      .as[Long].collect().toSet == wantP.filter(_ % 2 == 0))
    // RENAMED column: the logical predicate resolves through the
    // mapping on the way in, the masked read serves logical names
    val rdir = root + "/r"
    Versioned.writeVersion(mkDf(0, 50, 2), rdir)
    spark.sql(s"ALTER TABLE graft_pp.`$rdir` RENAME COLUMN price TO cost")
    spark.sql(s"DELETE FROM graft_pp.`$rdir` WHERE cost < 3.0 AND id >= 20")
    val wantR = (0L until 50L).filterNot(i => (i % 10) < 3 && i >= 20).toSet
    assert(spark.sql(s"SELECT id FROM graft_pp.`$rdir`").as[Long].collect().toSet == wantR)
    assert(spark.sql(s"SELECT sum(cost) AS s FROM graft_pp.`$rdir`")
      .as[Double].head() == wantR.toSeq.map(_ % 10).sum.toDouble)
  }

  test("named versioned tables: warehouse-rooted names — CREATE/INSERT/travel by name, SHOW TABLES/NAMESPACES, external LOCATION registration, DROP semantics, pointer rename") {
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_named").toString
    val wh = root + "/wh"
    spark.conf.set("spark.sql.catalog.graft_nm", "graft.sql.VersionedCatalog")
    spark.conf.set("spark.sql.catalog.graft_nm.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_nm.db")
    assert(spark.sql("SHOW NAMESPACES IN graft_nm").select("namespace")
      .as[String].collect().toSet == Set("db"))
    // MANAGED: the chain lives at <warehouse>/db/t; name resolution is
    // the filesystem, so it needs no service and survives restarts
    spark.sql("CREATE TABLE graft_nm.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_nm.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_nm.db.t VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM graft_nm.db.t").count() == 3)
    assert(spark.sql("SELECT * FROM graft_nm.db.t VERSION AS OF 1").count() == 2)
    assert(Versioned.latestVersion(spark, s"$wh/db/t").contains(2),
      "the managed chain must live at <warehouse>/db/t — library APIs interop")
    assert(spark.sql("SHOW TABLES IN graft_nm.db").select("tableName")
      .as[String].collect().toSet == Set("t"))
    // EXTERNAL: LOCATION registers an EXISTING chain under a name;
    // DROP removes only the pointer and the chain's bytes stay
    val ext = root + "/extchain"
    Versioned.writeVersion(Seq((10L, "x"), (11L, "y")).toDF("id", "v"), ext)
    spark.sql(s"CREATE TABLE graft_nm.db.ext USING graft LOCATION '$ext'")
    assert(spark.sql("SELECT v FROM graft_nm.db.ext WHERE id = 11")
      .as[String].head() == "y")
    spark.sql("INSERT INTO graft_nm.db.ext VALUES (12, 'z')")
    assert(Versioned.readLatest(spark, ext).count() == 3,
      "writes through the name must land in the external chain")
    // pointer RENAME is pure metadata
    spark.sql("ALTER TABLE graft_nm.db.ext RENAME TO db.ext2")
    assert(spark.sql("SELECT count(*) FROM graft_nm.db.ext2").as[Long].head() == 3)
    assert(spark.sql("SHOW TABLES IN graft_nm.db").select("tableName")
      .as[String].collect().toSet == Set("t", "ext2"))
    // managed tables refuse rename with the remedy named
    val eRen = intercept[Exception] {
      spark.sql("ALTER TABLE graft_nm.db.t RENAME TO db.t2") }
    assert(eRen.getMessage.contains("MANAGED"), eRen.getMessage)
    spark.sql("DROP TABLE graft_nm.db.ext2")
    assert(Versioned.latestVersion(spark, ext).contains(1),
      "dropping an external table must keep the chain's bytes")
    // managed DROP deletes the chain
    spark.sql("DROP TABLE graft_nm.db.t")
    assert(Versioned.latestVersion(spark, s"$wh/db/t").isEmpty)
    assert(spark.sql("SHOW TABLES IN graft_nm.db").count() == 0)
    spark.sql("DROP NAMESPACE graft_nm.db")
    assert(spark.sql("SHOW NAMESPACES IN graft_nm").count() == 0)
    // path addressing keeps working beside names, same catalog
    assert(spark.sql(s"SELECT count(*) FROM graft_nm.`$ext`").as[Long].head() == 3)
  }

  test("replaceWhere with keys records the change feed in the same commit: changesBetween serves it O(feed), classified exactly; untouched rows emit nothing") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_rw_cdf").toString + "/t"
    // v0: evens (untouched slice) + odds 1,3,5 (the replaced slice)
    Versioned.writeVersion(
      Seq((0L, 0L, "e0"), (2L, 0L, "e2"), (4L, 0L, "e4"),
        (1L, 1L, "x1"), (3L, 1L, "x3"), (5L, 1L, "x5")).toDF("id", "bucket", "v"),
      dir)
    // reload the bucket=1 slice: 1 keeps its value (no event), 3
    // changes (update pre/post), 5 disappears (delete), 7 is new (insert)
    val v = Versioned.replaceWhere(
      Seq((1L, 1L, "x1"), (3L, 1L, "y3"), (7L, 1L, "n7")).toDF("id", "bucket", "v"),
      dir, "bucket = 1", keys = Seq("id")).get
    assert(v == 1)
    assert(Versioned.hasRecordedChanges(spark, dir, 0, 1, Seq("id")),
      "the replace commit must carry a RECORDED feed — the O(feed) serve path")
    val feed = Versioned.changesBetween(spark, dir, 0, 1, Seq("id"))
      .select($"id", $"v", $"_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(feed == Set(
      (3L, "x3", "update_preimage"), (3L, "y3", "update_postimage"),
      (5L, "x5", "delete"), (7L, "n7", "insert")),
      s"got $feed")
    // the table itself swapped exactly
    assert(Versioned.readLatest(spark, dir).orderBy("id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq ==
      Seq((0L, "e0"), (1L, "x1"), (2L, "e2"), (3L, "y3"), (4L, "e4"), (7L, "n7")))
  }

  test("deep clone resumes: a crashed partial copy re-runs without re-copying completed files; partial files re-copy; the fork serves exactly") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_deepresume").toString
    val src = root + "/src"
    val tgt = root + "/tgt"
    Versioned.writeVersion(spark.range(0, 500).toDF("id")
      .withColumn("p", concat(lit("a"), $"id")).repartition(3), src)
    Versioned.writeVersion(spark.range(500, 900).toDF("id")
      .withColumn("p", concat(lit("b"), $"id")).repartition(2), src, SaveMode.Append)
    // simulate the CRASHED first run: copy two data files whole and
    // one TRUNCATED, then die before any manifest lands
    val srcRoot = new java.io.File(src)
    val dataFiles = srcRoot.listFiles().filter(_.getName.startsWith("v0"))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (d.getName, f))).sortBy(_._2.getName).toSeq
    assert(dataFiles.length == 5)
    def tgtPath(dirName: String, fileName: String) =
      java.nio.file.Paths.get(s"$tgt/$dirName/$fileName")
    val complete = dataFiles.take(2)
    val partial = dataFiles(2)
    complete.foreach { case (d, f) =>
      java.nio.file.Files.createDirectories(tgtPath(d, f.getName).getParent)
      java.nio.file.Files.copy(f.toPath, tgtPath(d, f.getName))
    }
    java.nio.file.Files.createDirectories(tgtPath(partial._1, partial._2.getName).getParent)
    java.nio.file.Files.write(tgtPath(partial._1, partial._2.getName),
      java.nio.file.Files.readAllBytes(partial._2.toPath).take(100))
    Thread.sleep(1100) // mtime resolution guard for the no-recopy assert
    val mtimes = complete.map { case (d, f) =>
      (d, f.getName) -> java.nio.file.Files.getLastModifiedTime(tgtPath(d, f.getName))
    }.toMap
    // the RE-RUN completes the clone without touching the survivors
    assert(Versioned.cloneTableDeep(spark, src, tgt) == 0)
    val (bytesCopied, skipped) = Versioned.lastDeepCloneCounts
    assert(skipped == 2, s"2 completed files must skip, got $skipped")
    val expectedBytes = dataFiles.drop(2).map(_._2.length).sum
    assert(bytesCopied == expectedBytes,
      s"re-run must copy exactly the missing/partial bytes: $bytesCopied vs $expectedBytes")
    complete.foreach { case (d, f) =>
      assert(java.nio.file.Files.getLastModifiedTime(tgtPath(d, f.getName)) ==
        mtimes((d, f.getName)), s"completed file $d/${f.getName} was re-copied")
    }
    assert(java.nio.file.Files.size(tgtPath(partial._1, partial._2.getName)) ==
      partial._2.length, "the truncated file must re-copy whole")
    // independence + exactness
    assert(Versioned.dropTableChain(spark, src))
    assert(Versioned.readLatest(spark, tgt).count() == 900)
    assert(Versioned.readLatest(spark, tgt).agg(sum($"id")).as[Long].head() ==
      (0L until 900L).sum)
  }

  test("stats sidecars keep the manifest O(dirs): refs not JSON, identical pruning, lifecycle through trim/prune/clone/deep-clone, missing-file refusal") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    import graft.ext.Versioned
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    val root = java.nio.file.Files.createTempDirectory("graft_stats_sc").toString
    val dir = root + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def statsFiles(d: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(d, "_versions/stats")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName).toSet
    }
    def manifestText(d: String, v: Int): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        f"$d/_versions/$v%08d.manifest")), "UTF-8")
    def batch(lo: Long, hi: Long, parts: Int) =
      spark.range(lo, hi).toDF("id")
        .withColumn("payload", concat(lit("p"), $"id"))
        .repartitionByRange(parts, $"id") // disjoint per-file bounds → prunable
    spark.conf.set("spark.graft.stats.sidecarMinBytes", "1")
    spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
    try {
      // v0: 2 files; v1: a 16-file append — the manifest must carry one
      // REF line per dir, and the 16-file increment must not be an
      // order of magnitude bigger than the 2-file one (O(dirs), not
      // O(files): the JSON lives in the sidecar)
      Versioned.writeVersion(batch(0, 1000, 2), dir)
      Versioned.writeVersion(batch(1000, 9000, 16), dir, SaveMode.Append)
      assert(manifestText(dir, 0).contains("statsref:") &&
        !manifestText(dir, 0).contains("\"files\""),
        s"v0 manifest must carry a ref, not inline JSON:\n${manifestText(dir, 0)}")
      val m1 = manifestText(dir, 1)
      assert(m1.contains("+statsref:") && !m1.contains("\"files\""))
      assert(m1.length < manifestText(dir, 0).length * 3,
        s"a 16-file increment must stay O(dirs): v0=${manifestText(dir, 0).length}B " +
          s"v1=${m1.length}B")
      assert(statsFiles(dir).size == 2, s"one sidecar per dir: ${statsFiles(dir)}")
      // the checkpoint stays O(dirs) too
      assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(
        dir, "_versions/00000001.checkpoint")).getLen < 4096)

      // pruning through sidecars = pruning inline (twin keeps JSON in
      // the manifest): same dirs dropped, same files planned
      val twin = root + "/twin"
      spark.conf.set("spark.graft.stats.sidecarMinBytes", Long.MaxValue.toString)
      Versioned.writeVersion(batch(0, 1000, 2), twin)
      Versioned.writeVersion(batch(1000, 9000, 16), twin, SaveMode.Append)
      spark.conf.set("spark.graft.stats.sidecarMinBytes", "1")
      assert(!manifestText(twin, 1).contains("statsref:"))
      for (f <- Seq(EqualTo("id", 7500L), GreaterThan("id", 995L), EqualTo("id", 3L))) {
        val a = Versioned.planDataFiles(spark, dir, 1, Seq(f)).map(_.split('/').last)
        val b = Versioned.planDataFiles(spark, twin, 1, Seq(f)).map(_.split('/').last)
        assert(a.length == b.length && a.length < 18,
          s"sidecar pruning must equal inline pruning for $f: ${a.length} vs ${b.length}")
      }
      assert(Versioned.readLatest(spark, dir).count() == 9000)
      assert(Versioned.readVersionSkipping(spark, dir, 1,
        Seq(EqualTo("id", 7500L))).count() == 1)

      // SHALLOW clone copies the (small) sidecars: the file lists are
      // load-bearing, so the clone must survive the source trimming +
      // pruning away the sidecars it was born from
      val tgt = root + "/clone"
      Versioned.cloneTable(spark, dir, tgt)
      assert(statsFiles(tgt) == statsFiles(dir),
        "a shallow clone must copy stats sidecars (content-addressed names match)")
      assert(!manifestText(tgt, 0).contains(s"$dir/_versions/stats"),
        "the clone's refs must point into its OWN tree")
      spark.conf.set("spark.sql.catalog.graft_ssc", "graft.sql.VersionedCatalog")
      spark.sql(s"UPDATE graft_ssc.`$dir` SET payload = 'upd' WHERE id = 42")
      Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0L)
      assert(Versioned.readLatest(spark, tgt).count() == 9000)
      assert(Versioned.readVersionSkipping(spark, tgt, 0,
        Seq(EqualTo("id", 7500L))).count() == 1,
        "the clone must keep planning from its copied sidecars after source prune")

      // the trim re-externalized the survivor and prune reclaimed the
      // orphaned sidecar while the live ones stayed
      val after = statsFiles(dir)
      assert(after.nonEmpty && after != statsFiles(tgt),
        s"trim+prune must retire the old sidecar: $after vs ${statsFiles(tgt)}")
      assert(spark.sql(s"SELECT payload FROM graft_ssc.`$dir` WHERE id = 42")
        .as[String].head() == "upd")

      // DEEP clone: refs remap into the target and the fork is
      // independent — drop the source chain, the deep clone serves on
      val deep = root + "/deep"
      Versioned.cloneTableDeep(spark, dir, deep)
      assert(!manifestText(deep, 0).contains(s"$dir/"),
        "a deep clone must reference nothing in the source tree")
      assert(statsFiles(deep).nonEmpty)
      assert(Versioned.dropTableChain(spark, dir))
      assert(Versioned.readLatest(spark, deep).count() == 9000)
      assert(Versioned.readVersionSkipping(spark, deep, 0,
        Seq(EqualTo("id", 7500L))).count() == 1)

      // a MISSING sidecar REFUSES with the remedy named (file lists
      // are load-bearing: a dir-listing fallback could serve rows a
      // trim already removed) — never a silent wrong answer
      val mp = java.nio.file.Paths.get(s"$deep/_versions/00000001.manifest")
      java.nio.file.Files.write(mp,
        "parent:0\n+statsref:bogusdir:/nonexistent/sidecar.stats\n".getBytes("UTF-8"))
      val e = intercept[Exception] { Versioned.readVersion(spark, deep, 1) }
      assert(causes(e).exists(m => m.contains("stats sidecar") && m.contains("MISSING")),
        causes(e).mkString(" | "))
    } finally {
      spark.conf.unset("spark.graft.stats.sidecarMinBytes")
      spark.conf.unset("spark.graft.manifest.checkpointInterval")
    }
  }

  test("bloom sidecars keep the manifest O(dirs): refs not blobs, identical pruning, lifecycle through trim/prune/clone, missing-file degrade") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.EqualTo
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_sc").toString
    val dir = root + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ids interleaved across commits: bounds never prune, only blooms
    def batch(mod: Long) = (0L until 2000L).filter(i => (i / 2) % 2 == mod)
      .map(i => (i, s"p$i")).toDF("id", "payload").repartition(2)
    def bloomFiles(d: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(d, "_versions/blooms")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName).toSet
    }
    spark.conf.set("spark.graft.bloom.sidecarMinBytes", "1")
    spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
    try {
      Versioned.writeVersion(batch(0), dir)
      Versioned.declareBloomColumn(spark, dir, "id") // backfill seam
      Versioned.writeVersion(batch(1), dir, SaveMode.Append) // write seam
      val v = Versioned.latestVersion(spark, dir).get
      // the manifest carries REFS: no inline blob line, and the full
      // checkpoint stays tiny while the blobs (2 dirs × 2 × 32 KiB)
      // live in sidecar files
      val cp = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        dir, f"_versions/$v%08d.checkpoint"))
      assert(cp.getLen < 8192,
        s"checkpoint must stay O(dirs) with sidecars, got ${cp.getLen} bytes")
      val scFiles = bloomFiles(dir)
      assert(scFiles.size == 2, s"one sidecar per dir expected: $scFiles")
      // pruning through sidecars = pruning inline: twin table, same
      // data, blobs kept in the manifest
      val twin = root + "/twin"
      spark.conf.set("spark.graft.bloom.sidecarMinBytes", Long.MaxValue.toString)
      Versioned.writeVersion(batch(0), twin)
      Versioned.declareBloomColumn(spark, twin, "id")
      Versioned.writeVersion(batch(1), twin, SaveMode.Append)
      spark.conf.set("spark.graft.bloom.sidecarMinBytes", "1")
      for (k <- Seq(0L, 5L, 1999L)) {
        val a = Versioned.planDataFiles(spark, dir, v,
          Seq(EqualTo("id", k))).map(_.split('/').last).sorted
        val b = Versioned.planDataFiles(spark, twin,
          Versioned.latestVersion(spark, twin).get,
          Seq(EqualTo("id", k))).map(_.split('/').last).length
        assert(a.length == b && a.length < 4,
          s"sidecar pruning must equal inline pruning for key $k: ${a.length} vs $b")
        assert(Versioned.readLatest(spark, dir).filter($"id" === k).count() == 1)
      }
      // clone serves point lookups through the SOURCE's sidecars
      // (refs are absolute; no blob copies)
      val tgt = root + "/clone"
      Versioned.cloneTable(spark, dir, tgt)
      assert(bloomFiles(tgt).isEmpty, "a shallow clone must not copy sidecars")
      assert(Versioned.planDataFiles(spark, tgt, 0, Seq(EqualTo("id", 5L))).length <
        Versioned.planDataFiles(spark, tgt, 0, Seq.empty).length,
        "the clone must bloom-prune through the source's sidecar")
      // trim (CoW UPDATE, pinned — the delta path keeps the masked
      // original live so its sidecar would rightly survive) re-
      // externalizes the surviving blobs; the old sidecar orphans and
      // prune reclaims it while keeping the live ones
      spark.conf.set("spark.sql.catalog.graft_bsc", "graft.sql.VersionedCatalog")
      withCow {
        spark.sql(s"UPDATE graft_bsc.`$dir` SET payload = 'upd' WHERE id = 5") }
      val afterTrim = bloomFiles(dir)
      assert(afterTrim.size > scFiles.size,
        s"the trim must write new sidecars, not rewrite old ones: $afterTrim")
      Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0L)
      val afterPrune = bloomFiles(dir)
      assert(afterPrune.nonEmpty && (afterPrune & scFiles) != scFiles,
        s"prune must reclaim orphaned sidecars: kept $afterPrune of $scFiles + $afterTrim")
      assert(spark.sql(s"SELECT payload FROM graft_bsc.`$dir` WHERE id = 5")
        .as[String].head() == "upd")
      assert(Versioned.readLatest(spark, dir).filter($"id" === 7L).count() == 1)
      // a MISSING sidecar (external interference — e.g. the clone
      // caveat) degrades to reading the dir, never to wrong rows or a
      // brick: craft a never-parsed version, delete its sidecar
      val t3 = root + "/t3"
      Versioned.writeVersion(batch(0), t3)
      Versioned.declareBloomColumn(spark, t3, "id")
      bloomFiles(t3).foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(t3, s"_versions/blooms/$n"), false))
      assert(Versioned.readLatest(spark, t3).count() == 1000)
      val all3 = Versioned.planDataFiles(spark, t3,
        Versioned.latestVersion(spark, t3).get, Seq(EqualTo("id", 4L)))
      assert(all3.length == 2, s"no bloom = no skipping, all files read: $all3")
    } finally {
      spark.conf.unset("spark.graft.bloom.sidecarMinBytes")
      spark.conf.unset("spark.graft.manifest.checkpointInterval")
    }
  }

  test("identity columns: SQL CREATE + omitted-column inserts assign unique step-aligned ids; ALWAYS refuses explicit; racing appenders never collide") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_identity").toString
    val dir = root + "/t"
    spark.conf.set("spark.sql.catalog.graft_id", "graft.sql.VersionedCatalog")
    spark.sql(s"CREATE TABLE graft_id.`$dir` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 3), data STRING)")
    // SQL INSERT with the column omitted assigns from the mark
    spark.sql(s"INSERT INTO graft_id.`$dir` (data) VALUES ('a'), ('b'), ('c')")
    val got1 = spark.sql(s"SELECT id, data FROM graft_id.`$dir` ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got1.map(_._1).distinct.length == 3, s"ids must be unique: $got1")
    assert(got1.forall { case (i, _) => i >= 100 && (i - 100) % 3 == 0 },
      s"ids must start at 100 and step by 3: $got1")
    // a second insert continues ABOVE the first (per-writer monotone)
    spark.sql(s"INSERT INTO graft_id.`$dir` (data) VALUES ('d')")
    val got2 = spark.sql(s"SELECT id FROM graft_id.`$dir`").as[Long].collect().toSeq
    assert(got2.distinct.length == 4 && got2.max > got1.map(_._1).max)
    // GENERATED ALWAYS refuses explicit values (raise_error fires
    // inside the write pass — walk the task-failure cause chain)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft_id.`$dir` (id, data) VALUES (9999, 'x')")
    }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    assert(causes(e).exists(_.contains("GENERATED ALWAYS AS IDENTITY")),
      s"got: ${causes(e).mkString(" | ")}")
    // …and the refused write committed nothing
    assert(spark.sql(s"SELECT count(*) FROM graft_id.`$dir`").as[Long].head() == 4)
    // library appends fill too, and survive CoW UPDATE + time travel
    Versioned.writeVersion(Seq(("lib1"), ("lib2")).toDF("data"), dir, SaveMode.Append)
    val all = Versioned.readLatest(spark, dir).select("id").as[Long].collect().toSeq
    assert(all.distinct.length == 6 && all.forall(i => (i - 100) % 3 == 0), all.toString)
    spark.sql(s"UPDATE graft_id.`$dir` SET data = 'upd' WHERE data = 'a'")
    assert(spark.sql(s"SELECT count(DISTINCT id) FROM graft_id.`$dir`")
      .as[Long].head() == 6, "CoW rewrite must carry existing ids verbatim")
    // BY DEFAULT accepts explicit values AND advances the mark past them
    val d2 = root + "/byDefault"
    spark.sql(s"CREATE TABLE graft_id.`$d2` (id BIGINT GENERATED BY DEFAULT AS " +
      "IDENTITY, data STRING)")
    spark.sql(s"INSERT INTO graft_id.`$d2` (id, data) VALUES (500, 'explicit')")
    spark.sql(s"INSERT INTO graft_id.`$d2` (data) VALUES ('generated')")
    val byDef = spark.sql(s"SELECT id, data FROM graft_id.`$d2`")
      .as[(Long, String)].collect().toMap.map(_.swap)
    assert(byDef("explicit") == 500L && byDef("generated") > 500L,
      s"generated ids must clear an accepted explicit value: $byDef")
    // RACING appenders: two writers, retry wrappers, zero collisions —
    // the commit claim is the OCC and a stale assignment basis refuses
    val d3 = root + "/race"
    spark.sql(s"CREATE TABLE graft_id.`$d3` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY, data STRING)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (0 until 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            for (i <- 0 until 5)
              Versioned.appendVersionWithRetry(
                Seq.tabulate(20)(j => s"w$w-$i-$j").toDF("data"), d3)
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val raced = Versioned.readLatest(spark, d3).select("id").as[Long].collect().toSeq
    assert(raced.length == 200 && raced.distinct.length == 200,
      s"racing appenders collided: ${raced.length} rows, ${raced.distinct.length} distinct")
    // time travel: the pre-UPDATE version still serves its own ids
    assert(Versioned.readVersion(spark, dir, 1).select("id").as[Long].collect()
      .toSeq.sorted == got1.map(_._1).sorted)
  }

  test("INT identity refuses: declarations demand BIGINT; a legacy INT chain's multi-partition insert refuses in-pass instead of wrapping mod 2^32") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types.{IntegerType, Metadata, StringType, StructField, StructType}
    import graft.ext.Versioned
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    val root = java.nio.file.Files.createTempDirectory("graft_int_identity").toString
    // 1) SQL declaration refuses with the BIGINT remedy named
    spark.conf.set("spark.sql.catalog.graft_iid", "graft.sql.VersionedCatalog")
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_iid.`$root/sqlInt` (id INT GENERATED ALWAYS " +
        "AS IDENTITY, data STRING)")
    }
    assert(causes(e1).exists(_.contains("BIGINT")), causes(e1).mkString(" | "))
    // 2) library createTable refuses too
    val schemaInt = StructType(Seq(
      StructField("id", IntegerType, nullable = true,
        metadata = Versioned.identityMetadata(Metadata.empty, 100L, 3L,
          allowExplicitInsert = false)),
      StructField("data", StringType)))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.createTable(spark, root + "/libInt", schemaInt)
    }
    assert(e2.getMessage.contains("BIGINT"), e2.getMessage)
    // 3) a stray df whose schema CARRIES identity metadata cannot
    // smuggle a declaration past the refusal: fresh writes strip it
    // (declarations enter only through createTable / SQL CREATE), so
    // the write lands a PLAIN int column — no hwm line, values verbatim
    val dfInt = Seq((7, "a")).toDF("id", "data")
      .select(col("id").as("id", schemaInt("id").metadata), col("data"))
    Versioned.writeVersion(dfInt, root + "/dfInt")
    assert(Versioned.readLatest(spark, root + "/dfInt").select("id")
      .as[Int].collect().toSeq == Seq(7))
    assert(!new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root + "/dfInt/_versions/00000000.manifest")), "UTF-8").contains("hwm:"),
      "a stray metadata-bearing df must not open a high-water mark")
    // 4) a LEGACY chain that declared INT before the refusal: the
    // in-pass range guard fires on a multi-partition insert (partition
    // p's raw id carries step·p·2³³, far outside the int range) —
    // duplicate ids can never commit silently
    val legacy = root + "/legacy"
    Versioned.commitManifest(spark, legacy, 0,
      Seq("schema:" + schemaInt.json, "hwm:id:100"))
    val e4 = intercept[Exception] {
      Versioned.writeVersion(
        Seq.tabulate(8)(i => s"r$i").toDF("data").repartition(4),
        legacy, SaveMode.Append)
    }
    assert(causes(e4).exists(m => m.contains("BIGINT") && m.contains("range")),
      causes(e4).mkString(" | "))
    assert(Versioned.latestVersion(spark, legacy).contains(0),
      "the refused insert must commit nothing")
    // …and a SINGLE-partition legacy insert inside the int range still
    // works (the guard refuses the hazard, not the table)
    Versioned.writeVersion(Seq("ok").toDF("data").coalesce(1), legacy, SaveMode.Append)
    val ids = Versioned.readLatest(spark, legacy).select("id")
      .as[Int].collect().toSeq
    assert(ids == Seq(100), s"got $ids")
  }

  test("manifest protocol gate: every commit stamps protocol:1 (checkpoints too); a higher protocol or an unknown line type refuses with upgrade-required; existing chains read unchanged") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causes(x.getCause))
    def read(p: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val root = java.nio.file.Files.createTempDirectory("graft_protocol").toString
    val dir = root + "/t"
    spark.conf.set("spark.graft.manifest.checkpointInterval", "2")
    try {
      Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
      Versioned.writeVersion(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append)
      Versioned.writeVersion(Seq((4L, "d")).toDF("id", "v"), dir, SaveMode.Append)
      // full manifest, delta manifest, and checkpoint all carry the stamp
      assert(read(s"$dir/_versions/00000000.manifest").contains("protocol:1"))
      assert(read(s"$dir/_versions/00000001.manifest").contains("+protocol:1"))
      assert(read(s"$dir/_versions/00000002.checkpoint").contains("protocol:1"))
      assert(Versioned.readLatest(spark, dir).count() == 4)

      // a FUTURE writer's chain: protocol 2 refuses, naming both numbers
      val mp = java.nio.file.Paths.get(s"$dir/_versions/00000003.manifest")
      java.nio.file.Files.write(mp, "parent:2\n+protocol:2\n".getBytes("UTF-8"))
      val e1 = intercept[Exception] { Versioned.readVersion(spark, dir, 3) }
      assert(causes(e1).exists(m => m.contains("protocol 2") && m.contains("upgrade")),
        causes(e1).mkString(" | "))
      // …and versions at or below the gate still serve
      assert(Versioned.readVersion(spark, dir, 2).count() == 4)

      // an UNKNOWN line type refuses as upgrade-required, never parses
      // as a phantom data dir (the old fallthrough's failure mode)
      // (a refused parse is never cached — the rewritten file re-reads)
      java.nio.file.Files.write(mp,
        "parent:2\n+wormhole:fancy-new-state\n".getBytes("UTF-8"))
      val e2 = intercept[Exception] { Versioned.readVersion(spark, dir, 3) }
      assert(causes(e2).exists(m => m.contains("wormhole") && m.contains("upgrade")),
        causes(e2).mkString(" | "))
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
  }

  test("maintenance seams: protocol-threaded partitioned compact, legacy-gated maintain, 4-col zorder defaults, scoped compact bytes") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.{Maintenance, ManifestStore, Versioned}
    val root = java.nio.file.Files.createTempDirectory("graft_maint_seams").toString
    // 1) a partitioned chain compacted through the manifest store runs
    // the whole spec-keeping partition-shaped rewrite end to end
    val pdir = root + "/p"
    val rows = (0 until 800).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "bucket", "payload")
    Versioned.writeVersionPartitioned(rows.repartition(4), pdir, Seq("bucket"))
    Versioned.writeVersionPartitioned(rows.repartition(4), pdir, Seq("bucket"), SaveMode.Append)
    val st = Maintenance.compact(spark, pdir, 512L * 1024 * 1024,
      store = ManifestStore)
    assert(st.filesAfter < st.filesBefore && st.totalBytes > 0, st.toString)
    assert(Versioned.readLatest(spark, pdir).count() == 1600)
    // 2) a LEGACY pre-file-list chain with the fragmentation gate on:
    // the probe skips (compact = None) but retention still runs —
    // enabling the gate must never abort the whole maintenance tick
    val ldir = root + "/l"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), ldir)
    val v0name = new java.io.File(ldir).listFiles().map(_.getName)
      .find(_.startsWith("v00000000_data")).get
    Versioned.commitManifest(spark, ldir, 1, Seq(v0name)) // schema-less legacy manifest
    val maint = Maintenance.maintainVersioned(spark, ldir, keepLast = 5,
      compactTargetBytes = 1L)
    assert(maint.compact.isEmpty, "legacy probe must skip the gate, not abort")
    assert(Versioned.readLatest(spark, ldir).count() == 1)
    // 3) 4-column z-order at DEFAULT bits derives min(16, 63/N)
    val zdir = root + "/z"
    Versioned.writeVersion((0 until 400).map(i =>
      (i.toLong, (i * 7 % 100).toLong, (i * 13 % 100).toLong, (i * 17 % 100).toLong))
      .toDF("a", "b", "c", "d").repartition(2), zdir)
    spark.conf.set("spark.sql.catalog.graft_ms", "graft.sql.VersionedCatalog")
    val zv = spark.sql(s"CALL graft_ms.system.zorder_by('$zdir', 'a,b,c,d')")
      .as[Int].head()
    assert(zv > 0 && Versioned.readVersion(spark, zdir, zv).count() == 400)
    // 4) scoped and unscoped compact_files report the SAME bytes
    // meaning (the bytes the rewrite processed, never 0)
    val scoped = spark.sql(
      s"CALL graft_ms.system.compact_files('$pdir', where => 'bucket = 1')")
      .select("bytes").as[Long].head()
    assert(scoped > 0, s"scoped compact_files must report the selected bytes, got $scoped")
  }

  test("GENERATED columns: library writes compute, every commit validates, renames follow, dependencies are load-bearing") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    spark.conf.set("spark.sql.catalog.graft_gc", "graft.sql.VersionedCatalog")
    val root = java.nio.file.Files.createTempDirectory("graft_gencol").toString
    val dir = root + "/t"
    spark.sql(s"CREATE TABLE graft_gc.`$dir` (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    // SQL INSERT provides the value; the commit validates it
    spark.sql(s"INSERT INTO graft_gc.`$dir` VALUES " +
      "(1, TIMESTAMP'2026-01-02 03:04:05', DATE'2026-01-02')")
    assert(intercept[Exception] {
      spark.sql(s"INSERT INTO graft_gc.`$dir` VALUES " +
        "(2, TIMESTAMP'2026-01-02 03:04:05', DATE'1999-12-31')")
    }.getMessage.contains("GENERATED"))
    // library append OMITS the column: computed; null dependency
    // computes null (null-safe validation)
    Versioned.writeVersion(
      Seq((2L, java.sql.Timestamp.valueOf("2026-02-03 00:00:00")),
          (3L, null.asInstanceOf[java.sql.Timestamp])).toDF("id", "ts"),
      dir, SaveMode.Append)
    assert(spark.sql(s"SELECT CAST(d AS STRING) FROM graft_gc.`$dir` WHERE id = 2")
      .as[String].head() == "2026-02-03")
    assert(spark.sql(s"SELECT count(*) FROM graft_gc.`$dir` WHERE id = 3 AND d IS NULL")
      .as[Long].head() == 1)
    // CoW UPDATE of an unrelated column passes; breaking the
    // declaration refuses (value <=> expr holds on EVERY commit)
    spark.sql(s"UPDATE graft_gc.`$dir` SET id = 10 WHERE id = 1")
    assert(intercept[Exception] {
      spark.sql(s"UPDATE graft_gc.`$dir` SET d = DATE'1999-12-31' WHERE id = 2")
    }.getMessage.contains("GENERATED"))
    // a data OVERWRITE carries the definition (like DEFAULTs): the
    // omitted column computes on the overwrite too
    Versioned.writeVersion(
      Seq((7L, java.sql.Timestamp.valueOf("2026-07-07 07:07:07"))).toDF("id", "ts"),
      dir, SaveMode.Overwrite)
    assert(spark.sql(s"SELECT CAST(d AS STRING) FROM graft_gc.`$dir` WHERE id = 7")
      .as[String].head() == "2026-07-07")
    // RENAME of the dependency column: the generation expression
    // follows (stored SQL is logical text, like CHECK constraints)
    spark.sql(s"ALTER TABLE graft_gc.`$dir` RENAME COLUMN ts TO event_ts")
    Versioned.writeVersion(
      Seq((8L, java.sql.Timestamp.valueOf("2026-08-08 08:08:08"))).toDF("id", "event_ts"),
      dir, SaveMode.Append)
    assert(spark.sql(s"SELECT CAST(d AS STRING) FROM graft_gc.`$dir` WHERE id = 8")
      .as[String].head() == "2026-08-08")
    // …and renaming the GENERATED column itself keeps it computing
    spark.sql(s"ALTER TABLE graft_gc.`$dir` RENAME COLUMN d TO event_date")
    Versioned.writeVersion(
      Seq((9L, java.sql.Timestamp.valueOf("2026-09-09 09:09:09"))).toDF("id", "event_ts"),
      dir, SaveMode.Append)
    assert(spark.sql(s"SELECT CAST(event_date AS STRING) FROM graft_gc.`$dir` WHERE id = 9")
      .as[String].head() == "2026-09-09")
    // the dependency is load-bearing: dropping it refuses; dropping
    // the generated column itself is fine
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_gc.`$dir` DROP COLUMN event_ts")
    }.getMessage.contains("GENERATED"))
    spark.sql(s"ALTER TABLE graft_gc.`$dir` DROP COLUMN event_date")
    assert(!spark.table(s"graft_gc.`$dir`").columns.contains("event_date"))

    // the declaration does NOT leak: parquet footers round-trip field
    // metadata, so a df read FROM a generated table and written to a
    // FRESH chain must not smuggle enforcement in
    val cleanDir = root + "/clean"
    val src2 = root + "/src2"
    spark.sql(s"CREATE TABLE graft_gc.`$src2` (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    spark.sql(s"INSERT INTO graft_gc.`$src2` VALUES " +
      "(1, TIMESTAMP'2026-01-02 03:04:05', DATE'2026-01-02')")
    Versioned.writeVersion(Versioned.readLatest(spark, src2), cleanDir)
    assert(Versioned.recordedSchema(spark, cleanDir, 0).get
      .fields.forall(!_.metadata.contains("GENERATION_EXPRESSION")),
      "generation metadata must not ride footer round-trips into fresh chains")
    // …so a 'wrong' d on the fresh chain is just data
    Versioned.writeVersion(
      Seq((9L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        java.sql.Date.valueOf("1999-12-31"))).toDF("id", "ts", "d"),
      cleanDir, SaveMode.Append)
    assert(Versioned.readLatest(spark, cleanDir).count() == 2)
    // an OVERWRITE that omits the dependency RETIRES the declaration
    // (the bloom precedent) instead of dying unresolvable
    val rdir = root + "/retire"
    spark.sql(s"CREATE TABLE graft_gc.`$rdir` (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    spark.sql(s"INSERT INTO graft_gc.`$rdir` VALUES " +
      "(1, TIMESTAMP'2026-01-02 03:04:05', DATE'2026-01-02')")
    Versioned.writeVersion(Seq(Tuple1(5L)).toDF("id"), rdir, SaveMode.Overwrite)
    assert(Versioned.recordedSchema(spark, rdir,
      Versioned.latestVersion(spark, rdir).get).get
      .fields.forall(!_.metadata.contains("GENERATION_EXPRESSION")))
    // a combined library drop of dependency + generated column works
    // in ONE call (the atomic-ALTER parity)
    val cdir = root + "/combined"
    spark.sql(s"CREATE TABLE graft_gc.`$cdir` (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    spark.sql(s"INSERT INTO graft_gc.`$cdir` VALUES " +
      "(1, TIMESTAMP'2026-01-02 03:04:05', DATE'2026-01-02')")
    Versioned.dropColumns(spark, cdir, Seq("ts", "d"))
    assert(spark.table(s"graft_gc.`$cdir`").columns.toSeq == Seq("id"))

    // PARTITION BY a generated column — the canonical derived-date
    // layout: the library write computes it, the hive layout and
    // partition pruning ride on the computed values
    val pdir = root + "/p"
    Versioned.writeVersionPartitioned(
      (0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "g"), pdir, Seq("g"))
    // (a pre-existing partitioned chain gains nothing here — build a
    // fresh one through SQL with the generated partition column)
    val gdir = root + "/gp"
    spark.sql(s"CREATE TABLE graft_gc.`$gdir` (id BIGINT, " +
      "g INT GENERATED ALWAYS AS (CAST(id % 5 AS INT))) PARTITIONED BY (g)")
    Versioned.writeVersionPartitioned(
      (0 until 100).map(i => i.toLong).toDF("id"), gdir, Seq("g"), SaveMode.Append)
    assert(spark.sql(s"SELECT count(*) FROM graft_gc.`$gdir` WHERE g = 2")
      .as[Long].head() == 20)
    val planned = Versioned.planDataFiles(spark, gdir,
      Versioned.latestVersion(spark, gdir).get,
      Seq(org.apache.spark.sql.sources.EqualTo("g", 2)))
    val allG = Versioned.planDataFiles(spark, gdir,
      Versioned.latestVersion(spark, gdir).get, Seq.empty)
    assert(planned.nonEmpty && planned.length < allG.length,
      s"generated partition column must prune ($planned of $allG)")
  }

  test("generated-partition filter derivation: a src-only WHERE prunes partitions bounds cannot; monotone ranges derive; unproven shapes derive nothing") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources._
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_genpart").toString
    spark.conf.set("spark.sql.catalog.graft_gpd", "graft.sql.VersionedCatalog")
    // month(ts) partitions with TWO years per month: every early
    // month's ts RANGE contains a mid-2025 probe (bounds keep ~half
    // the files), while the derived m = month(v) keeps exactly one —
    // the pin that the DERIVATION, not the src bounds, did the work
    val dir = root + "/t"
    spark.sql(s"CREATE TABLE graft_gpd.`$dir` (id BIGINT, ts TIMESTAMP, " +
      "m INT GENERATED ALWAYS AS (MONTH(ts))) PARTITIONED BY (m)")
    val rows = for (y <- Seq(2025, 2026); mo <- 1 to 12) yield
      ((y.toLong * 100 + mo), java.sql.Timestamp.valueOf(f"$y-$mo%02d-10 12:00:00"))
    Versioned.writeVersionPartitioned(
      rows.toDF("id", "ts").repartition(1), dir, Seq("m"), SaveMode.Append)
    val v = Versioned.latestVersion(spark, dir).get
    val all = Versioned.planDataFiles(spark, dir, v, Seq.empty)
    assert(all.length == 12, s"one file per month partition expected: $all")
    val probe = java.sql.Timestamp.valueOf("2025-06-15 00:00:00")
    val eq = Versioned.planDataFiles(spark, dir, v, Seq(EqualTo("ts", probe)))
    assert(eq.length == 1 && eq.head.contains("m=6"),
      s"derivation must isolate the m=6 partition (ts bounds alone keep 6 files): $eq")
    // absent probes read empty but never lose present rows
    assert(Versioned.readLatest(spark, dir)
      .filter($"ts" === java.sql.Timestamp.valueOf("2025-06-10 12:00:00")).count() == 1)
    // the SQL tier's partitioned index derives too: the scan plans
    // ONE file for a src-only equality
    val scanned = spark.sql(s"SELECT id FROM graft_gpd.`$dir` " +
      "WHERE ts = TIMESTAMP'2025-06-10 12:00:00'")
    assert(scanned.as[Long].collect().toSeq == Seq(202506L))
    // monotone shape: CAST(ts AS DATE) derives RANGE filters
    val d2 = root + "/range"
    spark.sql(s"CREATE TABLE graft_gpd.`$d2` (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) PARTITIONED BY (d)")
    Versioned.writeVersionPartitioned(
      (1 to 5).map(i => (i.toLong, java.sql.Timestamp.valueOf(f"2026-01-0$i 08:00:00")))
        .toDF("id", "ts").repartition(1), d2, Seq("d"), SaveMode.Append)
    val v2 = Versioned.latestVersion(spark, d2).get
    // ts > Jan 3 noon derives d >= Jan 3: the boundary partition must
    // stay (a later ts the same day would live there), earlier days prune
    val gt = Versioned.planDataFiles(spark, d2, v2,
      Seq(GreaterThan("ts", java.sql.Timestamp.valueOf("2026-01-03 12:00:00"))))
    assert(gt.length == 3 && !gt.exists(f =>
        f.contains("d=2026-01-01") || f.contains("d=2026-01-02")),
      s"monotone derivation must prune the pre-boundary partitions: $gt")
    // results stay exact through the derived prune
    assert(Versioned.readLatest(spark, d2)
      .filter($"ts" > java.sql.Timestamp.valueOf("2026-01-03 12:00:00")).count() == 2)
    // an UNPROVEN shape derives nothing (one-sided): hash(id) is
    // deterministic but outside the proven set — every file stays
    val d3 = root + "/hash"
    spark.sql(s"CREATE TABLE graft_gpd.`$d3` (id BIGINT, " +
      "h INT GENERATED ALWAYS AS (CAST(pmod(hash(id), 4) AS INT))) PARTITIONED BY (h)")
    Versioned.writeVersionPartitioned(
      (0 until 40).map(_.toLong).toDF("id").repartition(1), d3, Seq("h"), SaveMode.Append)
    val v3 = Versioned.latestVersion(spark, d3).get
    // id bounds prune per-file, so probe INSIDE every file's range:
    // pruning may only come from id stats, never from a bogus h guess
    val all3 = Versioned.planDataFiles(spark, d3, v3, Seq.empty)
    val got3 = Versioned.readLatest(spark, d3).filter($"id" === 17L)
    assert(got3.count() == 1, "unproven shapes must not lose rows")
    assert(all3.nonEmpty)
  }

  test("CONVERT in place: a plain hive-partitioned dir adopts as v0; refusals; prune never touches the adopted files") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.EqualTo
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_convert").toString
    val dir = root + "/t"
    val rows = (0 until 400).map(i => (i.toLong, i % 4, s"v$i"))
    rows.toDF("id", "bucket", "payload").repartition(2)
      .write.partitionBy("bucket").parquet(dir)
    // hive layout without the declaration refuses (null-filled
    // partition columns would be silent corruption)
    assert(intercept[IllegalArgumentException] {
      Versioned.convertParquetDir(spark, dir)
    }.getMessage.contains("hive-partitioned"))
    assert(Versioned.convertParquetDir(spark, dir, Seq("bucket")) == 0)
    // re-convert refuses: already a chain
    assert(intercept[IllegalArgumentException] {
      Versioned.convertParquetDir(spark, dir, Seq("bucket"))
    }.getMessage.contains("already a versioned chain"))
    // the adopted files serve partitioned: pruning + exactness
    assert(Versioned.readLatest(spark, dir).count() == 400)
    val all = Versioned.planDataFiles(spark, dir, 0, Seq.empty)
    val one = Versioned.planDataFiles(spark, dir, 0, Seq(EqualTo("bucket", 1)))
    assert(one.nonEmpty && one.length < all.length, s"$one of $all")
    // the chain lives its own life: partitioned append + CoW UPDATE
    Versioned.writeVersionPartitioned(
      Seq((400L, 0, "new")).toDF("id", "bucket", "payload"), dir, Seq("bucket"),
      SaveMode.Append)
    spark.conf.set("spark.sql.catalog.graft_cv", "graft.sql.VersionedCatalog")
    spark.sql(s"UPDATE graft_cv.`$dir` SET payload = 'upd' WHERE id = 3")
    assert(spark.sql(s"SELECT payload FROM graft_cv.`$dir` WHERE id = 3")
      .as[String].head() == "upd")
    assert(spark.sql(s"SELECT count(*) FROM graft_cv.`$dir`").as[Long].head() == 401)
    // time travel to the adoption
    assert(Versioned.readVersion(spark, dir, 0).count() == 400)
    // prune reclaims only v########_* children — NEVER the adopted
    // files, even after they leave every kept version
    Versioned.writeVersion(Versioned.readLatest(spark, dir), dir) // overwrite: retires refs
    Versioned.pruneVersions(spark, dir, keepLast = 1, orphanMinAgeMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "/bucket=1")),
      "prune must never reclaim the adopted plain files")
    assert(Versioned.readLatest(spark, dir).count() == 401)

    // nested NON-hive parquet refuses: the flat harvest lists only
    // top-level files, so adopting such a dir would commit stats that
    // miss rows and value predicates would prune live data
    val nested = root + "/nested"
    Seq((1L, "x")).toDF("id", "p").write.parquet(nested + "/2024-01-01")
    assert(intercept[IllegalArgumentException] {
      Versioned.convertParquetDir(spark, nested)
    }.getMessage.contains("NESTED"))

    // hidden staging leftovers refuse the conversion outright
    val dirty = root + "/dirty"
    Seq((1L, "x")).toDF("id", "p").write.parquet(dirty)
    Seq((2L, "y")).toDF("id", "p").write
      .parquet(dirty + "/_temporary_leftover/part")
    assert(intercept[IllegalArgumentException] {
      Versioned.convertParquetDir(spark, dirty)
    }.getMessage.contains("hidden staging"))

    // …and the SQL procedure drives the same conversion
    val flat = root + "/flat"
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score").write.parquet(flat)
    assert(spark.sql(s"CALL graft_cv.system.convert('$flat')")
      .as[Int].head() == 0)
    assert(spark.sql(s"SELECT sum(score) FROM graft_cv.`$flat`")
      .as[Double].head() == 30.0)
  }

  test("distributed footer harvest: over-threshold CONVERT runs as Spark tasks with stats identical to the driver path") {
    import graft.ext.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_harvest").toString
    val src = root + "/src"
    (0 until 4000).map(i => (i.toLong, s"p$i", (i % 97).toDouble))
      .toDF("id", "payload", "score").repartitionByRange(8, $"id").write.parquet(src)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the SAME bytes under two roots, so the two harvest paths must
    // commit byte-identical stats lines (file names and sizes match)
    val seqDir = root + "/seq"; val distDir = root + "/dist"
    for (d <- Seq(seqDir, distDir); st <- fs.listStatus(new org.apache.hadoop.fs.Path(src))
         if st.getPath.getName.endsWith(".parquet")) {
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(d, st.getPath.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
    // listener: count tasks of jobs the harvest labeled
    val harvestTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val harvestStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties.getProperty("spark.job.description"))
              .exists(_.contains("distributed footer harvest")))
          j.stageIds.foreach(harvestStages.add(_))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (harvestStages.contains(t.stageId)) harvestTasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // below threshold: the driver path, zero harvest jobs
      spark.conf.set("spark.graft.stats.distributedHarvestMinFiles", "1000000")
      assert(Versioned.convertParquetDir(spark, seqDir) == 0)
      // over threshold: the harvest is a Spark job with real tasks
      spark.conf.set("spark.graft.stats.distributedHarvestMinFiles", "1")
      assert(Versioned.convertParquetDir(spark, distDir) == 0)
      val deadline = System.currentTimeMillis() + 15000
      while (harvestTasks.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(harvestTasks.get() >= 1,
        "the over-threshold harvest must run as executor tasks")
      // identical committed state modulo the embedded root path and
      // the in-commit timestamp (each commit's own clock, by design)
      def manifest(d: String): String = {
        val in = fs.open(new org.apache.hadoop.fs.Path(d, "_versions/00000000.manifest"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filterNot(_.startsWith("ts:")).mkString("\n").replace(
            fs.makeQualified(new org.apache.hadoop.fs.Path(d)).toUri.getPath, "<root>")
        finally in.close()
      }
      assert(manifest(seqDir) == manifest(distDir),
        "distributed harvest must commit byte-identical stats")
      assert(harvestStages.size() == 1,
        "the driver-path convert must not have launched a harvest job")
      // both serve identically
      assert(Versioned.readLatest(spark, distDir).count() == 4000)
      assert(Versioned.planDataFiles(spark, distDir, 0,
        Seq(org.apache.spark.sql.sources.EqualTo("id", 1L))).length <
        Versioned.planDataFiles(spark, distDir, 0, Seq.empty).length)
    } finally {
      spark.conf.unset("spark.graft.stats.distributedHarvestMinFiles")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("rename refuses a physical name the comma-delimited colmap line cannot carry") {
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap_comma").toString + "/t"
    // parquet legally stores a column named 'a,b'; mapping it would
    // embed the comma in the colmap line and brick the parse
    Versioned.writeVersion(Seq((1L, "x")).toDF("a,b", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.renameColumns(spark, dir, Seq("a,b" -> "nice"))
    }
    assert(e.getMessage.contains("cannot be column-mapped"), e.getMessage)
    // nothing committed; plain-named columns on the same chain rename fine
    assert(Versioned.columnMapping(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)
    Versioned.renameColumns(spark, dir, Seq("v" -> "w"))
    assert(Versioned.readLatest(spark, dir).columns.toSeq == Seq("a,b", "w"))
  }

  test("replaceWhere: one atomic commit replaces exactly the predicate slice; partition-only predicates drop without a read; untouched files carry verbatim; mis-scoped inserts refuse; masked rows do not resurrect") {
    import java.nio.file.Files
    import graft.ext.Versioned

    // ── partitioned chain, partition-only predicate: exact drop+add
    val pdir = Files.createTempDirectory("graft_rw_part").toString + "/t"
    Versioned.writeVersionPartitioned(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "f", 30.0), (4L, "f", 40.0),
        (5L, "p", 50.0)).toDF("id", "status", "price"),
      pdir, Seq("status"))
    val v0 = Versioned.latestVersion(spark, pdir).get
    val before = Versioned.planDataFiles(spark, pdir, v0, Seq.empty)
    val vNew = Versioned.replaceWhere(
      Seq((30L, "f", 33.0), (40L, "f", 44.0)).toDF("id", "status", "price"),
      pdir, "status = 'f'").get
    assert(vNew == v0 + 1, "replaceWhere must land as ONE commit")
    val after = Versioned.planDataFiles(spark, pdir, vNew, Seq.empty)
    val untouched = before.filterNot(_.contains("status=f"))
    assert(untouched.forall(after.contains),
      s"untouched partition files must carry VERBATIM: $untouched vs $after")
    assert(!after.exists(f => before.contains(f) && f.contains("status=f")),
      "the replaced partition's files must drop")
    assert(Versioned.readLatest(spark, pdir)
      .select($"id", $"status", $"price").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (5L, "p", 50.0),
        (30L, "f", 33.0), (40L, "f", 44.0)),
      "replace must swap exactly the predicate slice")
    assert(Versioned.readVersion(spark, pdir, v0).count() == 5,
      "time travel to the pre-replace version must serve the old slice")

    // a mis-scoped insert (row outside the predicate) refuses with
    // nothing committed — the guard fires inside the write pass
    val eBad = intercept[Exception] {
      Versioned.replaceWhere(
        Seq((9L, "zz", 9.0)).toDF("id", "status", "price"), pdir, "status = 'f'")
    }
    def chain(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString(" | ")
    assert(chain(eBad).contains("does not satisfy"), s"wrong failure: ${chain(eBad)}")
    assert(Versioned.latestVersion(spark, pdir).get == vNew,
      "a refused replace must commit nothing")

    // ── unpartitioned chain, DATA-column predicate: stats-pruned
    // copy-on-write; NULL-predicate rows are kept (standard WHERE);
    // a scoped-dv-masked survivor stays deleted through the rewrite
    val dir = Files.createTempDirectory("graft_rw_gen").toString + "/t"
    def rows(from: Int, tag: String) =
      (from until from + 10).map(i =>
        (i.toLong, if (i == 13) null else tag, i.toDouble)).toDF("id", "v", "price")
    Versioned.writeVersion(rows(0, "a").coalesce(1), dir)
    Versioned.writeVersion(rows(10, "b").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append)
    Versioned.writeVersion(rows(20, "c").coalesce(1), dir,
      org.apache.spark.sql.SaveMode.Append)
    Versioned.deleteByKeysScoped(spark, dir, Seq(11L).toDF("id"), "id")
    val vg0 = Versioned.latestVersion(spark, dir).get
    val beforeG = Versioned.planDataFiles(spark, dir, vg0, Seq.empty)
    val vg1 = Versioned.replaceWhere(
      Seq((12L, "b", 99.0), (17L, "b", 99.0)).toDF("id", "v", "price"),
      dir, "id >= 12 AND id < 18 AND v = 'b'").get
    val afterG = Versioned.planDataFiles(spark, dir, vg1, Seq.empty)
    // the [0,10) and [20,30) dirs cannot hold a matching row — their
    // files carry verbatim (stats pruning scoped the rewrite)
    val outer = beforeG.filter(f => afterG.contains(f))
    assert(outer.size == 2,
      s"exactly the two non-candidate files must carry verbatim: $beforeG vs $afterG")
    val got = Versioned.readLatest(spark, dir)
      .select($"id", $"v", $"price").orderBy("id")
      .as[(Long, Option[String], Double)].collect().toSeq
    val expect = (
      (0 until 10).map(i => (i.toLong, Some("a").filter(_ => i != 13), i.toDouble)) ++
      Seq((10L, Some("b"), 10.0), // 11 stays deleted (scoped dv, applied through the rewrite)
        (12L, Some("b"), 99.0),   // replaced
        (13L, None, 13.0),        // NULL predicate → kept, standard WHERE semantics
        (17L, Some("b"), 99.0),   // replaced
        (18L, Some("b"), 18.0), (19L, Some("b"), 19.0)) ++
      (20 until 30).map(i => (i.toLong, Some("c"), i.toDouble))
    ).map { case (i, v, p) => (i, v: Option[String], p) }.sortBy(_._1)
    assert(got == expect, s"got $got")

    // ── SQL seam: Spark's own INSERT INTO … REPLACE WHERE routes here
    spark.conf.set("spark.sql.catalog.versioned", "graft.sql.VersionedCatalog")
    spark.sql(s"INSERT INTO versioned.`$pdir` REPLACE WHERE status = 'p' " +
      "SELECT * FROM VALUES (500L, 5.5, 'p'), (501L, 5.5, 'p') AS t(id, price, status)")
    assert(Versioned.readLatest(spark, pdir).filter($"status" === "p")
      .select($"id").as[Long].collect().toSet == Set(500L, 501L),
      "SQL REPLACE WHERE must swap the partition slice atomically")
    assert(Versioned.readLatest(spark, pdir).count() == 6)

    // an EMPTY insert is a pure predicate-scoped delete, still atomic
    val vDel = Versioned.replaceWhere(
      Seq.empty[(Long, String, Double)].toDF("id", "status", "price"),
      pdir, "status = 'p'")
    assert(vDel.nonEmpty && Versioned.readLatest(spark, pdir)
      .filter($"status" === "p").isEmpty,
      "replaceWhere with no rows must delete the slice")
  }

  test("replaceWhere on an identity-bearing table: omitted ids fill above the mark, survivors keep theirs verbatim, uniqueness holds through the swap") {
    import graft.ext.Versioned
    spark.conf.set("spark.sql.catalog.versioned", "graft.sql.VersionedCatalog")
    val dir = java.nio.file.Files.createTempDirectory("graft_rw_ident").toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS versioned.`$dir`")
    spark.sql(s"CREATE TABLE versioned.`$dir` (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 1), k BIGINT, grp STRING)")
    spark.sql(s"INSERT INTO versioned.`$dir` (k, grp) " +
      "SELECT * FROM VALUES (1L, 'a'), (2L, 'a'), (3L, 'b') AS t(k, grp)")
    val before = Versioned.readLatest(spark, dir)
      .select($"id", $"k", $"grp").as[(Long, Long, String)].collect()
    val keptBefore = before.filter(_._3 == "a").toSet
    val maxId = before.map(_._1).max
    // replace the 'b' slice; the reload OMITS the identity column —
    // the write-entry prep must fill it above the mark, while the
    // surviving 'a' rows ride through with their ids VERBATIM
    Versioned.replaceWhere(
      Seq((30L, "b"), (31L, "b")).toDF("k", "grp"), dir, "grp = 'b'")
    val after = Versioned.readLatest(spark, dir)
      .select($"id", $"k", $"grp").as[(Long, Long, String)].collect()
    assert(after.filter(_._3 == "a").toSet == keptBefore,
      "survivors must keep their identity values verbatim")
    val newIds = after.filter(_._3 == "b").map(_._1)
    assert(newIds.forall(_ > maxId),
      s"reload ids must assign ABOVE the mark (max pre-swap $maxId, got ${newIds.toSeq})")
    assert(after.map(_._1).distinct.length == after.length,
      "identity uniqueness must hold through the swap")
    // and the mark advanced: a later plain insert stays unique too
    spark.sql(s"INSERT INTO versioned.`$dir` (k, grp) VALUES (99L, 'c')")
    val all = Versioned.readLatest(spark, dir).select($"id").as[Long].collect()
    assert(all.distinct.length == all.length,
      "the mark must advance past the swap's assignments")
  }

  test("in-commit timestamps: every commit records a monotone clock; TIMESTAMP AS OF resolves by the RECORDED time, immune to mtime tampering; checkpoints carry the same clock") {
    import java.nio.file.Files
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val dir = Files.createTempDirectory("graft_ict").toString + "/t"
    Versioned.writeVersion(Seq((0L, "a")).toDF("id", "v"), dir)
    // cross the default checkpoint interval (10) so a sidecar lands
    (1 to 11).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, "a")).toDF("id", "v"), dir, SaveMode.Append))
    val latest = Versioned.latestVersion(spark, dir).get
    assert(latest == 11)
    val ts = (0 to latest).map(v => Versioned.commitTimestamp(spark, dir, v))
    assert(ts == ts.sorted && ts.distinct == ts,
      s"in-commit clocks must be strictly monotone, got $ts")

    // the object-store-copy scenario: every manifest's mtime jumps to
    // NOW+1h (a restore/copy resets times) — the recorded clock must
    // keep TIMESTAMP AS OF exact where mtime resolution would answer
    // "no version existed yet" or the wrong one
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val far = System.currentTimeMillis() + 3600L * 1000
    fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_versions"))
      .filter(_.getPath.getName.endsWith(".manifest"))
      .foreach(st => fs.setTimes(st.getPath, far, -1))
    assert(Versioned.versionAsOfTimestamp(spark, dir, ts(3)) == Some(3),
      "travel must resolve by the RECORDED commit clock, not mtime")
    assert(Versioned.versionAsOfTimestamp(spark, dir, ts(0) - 1) == None)
    assert(Versioned.versionAsOfTimestamp(spark, dir, ts(latest)) == Some(latest))

    // history serves the recorded clock too
    val hist = Versioned.history(spark, dir).orderBy("version")
      .select($"committed_at").as[java.sql.Timestamp].collect().map(_.getTime)
    assert(hist.toSeq == ts, "history must report the in-commit clock")

    // the checkpoint sidecar carries the SAME clock the manifest was
    // stamped with (a checkpoint-resolved read answers alike)
    val cpPath = new org.apache.hadoop.fs.Path(dir, f"_versions/${10}%08d.checkpoint")
    assert(fs.exists(cpPath), "v10 must have a checkpoint at the default interval")
    val cpIn = fs.open(cpPath)
    val cpText = try scala.io.Source.fromInputStream(cpIn, "UTF-8").mkString
      finally cpIn.close()
    assert(cpText.contains(s"ts:${ts(10)}"),
      s"the v10 checkpoint must carry ts:${ts(10)}")

    // a restore is a NEW commit: fresh clock, still monotone — the
    // restored state does not time-travel the clock backwards
    Versioned.restoreVersion(spark, dir, 0)
    val vr = Versioned.latestVersion(spark, dir).get
    assert(Versioned.commitTimestamp(spark, dir, vr) > ts.last,
      "a restore commit must carry its own (newer) clock")
  }

  test("distributed vacuum reclaim: over-threshold dead dirs delete as Spark tasks; below threshold stays driver-direct; results identical") {
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    def build(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_dvac").toString + "/t"
      Versioned.writeVersion(Seq((0L, "x")).toDF("id", "v"), dir)
      (1 to n).foreach(i => Versioned.writeVersion(
        Seq((i.toLong, "x")).toDF("id", "v"), dir)) // OVERWRITES: each orphans the last
      dir
    }
    val reclaimTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val reclaimStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.job.description"))
            .exists(p => p != null && p.contains("distributed vacuum reclaim")))
          j.stageIds.foreach(reclaimStages.add(_))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (reclaimStages.contains(t.stageId)) reclaimTasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // below threshold: driver-direct, no reclaim job
      val small = build(3)
      spark.conf.set("spark.graft.vacuum.distributedDeleteMinDirs", "1000000")
      val stSmall = Versioned.pruneVersions(spark, small, keepLast = 1,
        orphanMinAgeMs = 0L)
      assert(stSmall.dirsDeleted.size == 3 && reclaimTasks.get() == 0,
        s"below-threshold reclaim must stay on the driver (${stSmall.dirsDeleted})")
      // over threshold: the deletes run as executor tasks
      val big = build(8)
      spark.conf.set("spark.graft.vacuum.distributedDeleteMinDirs", "2")
      val stBig = Versioned.pruneVersions(spark, big, keepLast = 1,
        orphanMinAgeMs = 0L)
      val deadline = System.currentTimeMillis() + 15000
      while (reclaimTasks.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(stBig.dirsDeleted.size == 8, stBig.dirsDeleted.toString)
      assert(reclaimTasks.get() >= 1,
        "the over-threshold reclaim must run as executor tasks")
      // identical outcome either way: only the live dir remains
      val fs = new org.apache.hadoop.fs.Path(big)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val left = fs.listStatus(new org.apache.hadoop.fs.Path(big))
        .map(_.getPath.getName).filter(_.startsWith("v")).toSeq
      assert(left.size == 1, s"exactly the live dir must survive: $left")
      assert(Versioned.readLatest(spark, big).count() == 1)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.vacuum.distributedDeleteMinDirs")
    }
  }

  test("MULTI-COLUMN bloom indexes: each declared column prunes its own point lookups; appends build all declared blooms; per-column drop keeps the others live") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources.EqualTo
    import graft.ext.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_mbloom").toString + "/t"
    // both key columns INTERLEAVE across commits: bounds prune nothing,
    // only the right column's bloom can
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, i * 3 + 1, s"p$i")).toDF("id", "user", "payload")
    Versioned.writeVersion(mk(0L until 1000L by 2).repartition(2), dir)
    Versioned.writeVersion(mk(1L until 1000L by 2).repartition(2), dir, SaveMode.Append)
    Versioned.declareBloomColumn(spark, dir, "id")
    val v1 = Versioned.declareBloomColumn(spark, dir, "user")
    assert(Versioned.bloomColumns(spark, dir, v1).map(_._1) == Seq("id", "user"))

    val all = Versioned.planDataFiles(spark, dir, v1, Seq.empty)
    assert(all.length == 4)
    val byId = Versioned.planDataFiles(spark, dir, v1, Seq(EqualTo("id", 42L)))
    assert(byId.nonEmpty && byId.length < 4, s"id bloom must prune: $byId")
    val byUser = Versioned.planDataFiles(spark, dir, v1, Seq(EqualTo("user", 127L)))
    assert(byUser.nonEmpty && byUser.length < 4, s"user bloom must prune: $byUser")
    // correctness either way: the row is found, absent keys are empty
    assert(Versioned.readLatest(spark, dir).filter($"user" === 127L)
      .select($"id").as[Long].head() == 42L)
    assert(Versioned.readLatest(spark, dir).filter($"user" === 128L).isEmpty)

    // an APPEND builds blooms for EVERY declared column
    Versioned.writeVersion(mk(Seq(5000L)), dir, SaveMode.Append)
    val v2 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.planDataFiles(spark, dir, v2, Seq(EqualTo("user", 15001L))).length == 1)
    assert(Versioned.planDataFiles(spark, dir, v2, Seq(EqualTo("id", 5000L))).length == 1)

    // per-column DROP: id's index retires, user's stays live
    val v3 = Versioned.dropBloomColumn(spark, dir, Some("id")).get
    assert(Versioned.bloomColumns(spark, dir, v3).map(_._1) == Seq("user"))
    assert(Versioned.planDataFiles(spark, dir, v3, Seq(EqualTo("id", 42L))).length == 4,
      "dropping the id index must stop id pruning: all 4 interleaved files return " +
        "(bounds still exclude the 5000-key file)")
    assert(Versioned.planDataFiles(spark, dir, v3, Seq(EqualTo("user", 127L))).length ==
      byUser.length, "the user index must survive dropping id's")

    // the SQL surface drops one column by name; detail reports the rest
    spark.conf.set("spark.sql.catalog.versioned", "graft.sql.VersionedCatalog")
    spark.sql(s"CALL versioned.system.drop_bloom('$dir', 'user')")
    val v4 = Versioned.latestVersion(spark, dir).get
    assert(Versioned.bloomColumns(spark, dir, v4).isEmpty)
  }

  test("DEEP CLONE: a fully independent fork — the copy runs as a Spark job, scoped delete masks carry, absolute refs localize, and the clone survives dropping the source entirely") {
    import java.nio.file.Files
    import org.apache.spark.sql.SaveMode
    import graft.ext.Versioned
    val srcDir = Files.createTempDirectory("graft_dclone_src").toString + "/t"
    Versioned.writeVersion(
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(2), srcDir)
    Versioned.writeVersion(
      (20 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(2), srcDir,
      SaveMode.Append)
    // a SQL-style scoped delete: the shallow clone REFUSES this shape;
    // deep clone must carry it (local dir names preserved)
    Versioned.deleteByKeysScoped(spark, srcDir, Seq(5L, 25L).toDF("id"), "id")
    Versioned.declareBloomColumn(spark, srcDir, "id")
    val expect = Versioned.readLatest(spark, srcDir)
      .as[(Long, String)].collect().toSet
    assert(expect.size == 38 && !expect.exists(r => r._1 == 5L || r._1 == 25L))

    // the copy must be a SPARK JOB (cluster-wide IO, not a driver loop)
    val copyTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val copyStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.job.description"))
            .exists(p => p != null && p.contains("deep clone copy")))
          j.stageIds.foreach(copyStages.add(_))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (copyStages.contains(t.stageId)) copyTasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val tgtDir = Files.createTempDirectory("graft_dclone_tgt").toString + "/t"
    try {
      assert(Versioned.cloneTableDeep(spark, srcDir, tgtDir) == 0)
      val deadline = System.currentTimeMillis() + 15000
      while (copyTasks.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(copyTasks.get() >= 1, "the deep-clone copy must run as executor tasks")
    } finally spark.sparkContext.removeSparkListener(listener)

    // identical serve, skipping works immediately, masks apply
    assert(Versioned.readLatest(spark, tgtDir).as[(Long, String)].collect().toSet
      == expect, "the clone must serve exactly the source's masked state")
    val all = Versioned.planDataFiles(spark, tgtDir, 0, Seq.empty)
    val pruned = Versioned.planDataFiles(spark, tgtDir, 0,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 1L)))
    assert(all.nonEmpty && pruned.length < all.length,
      s"carried stats/blooms must prune (${pruned.length}/${all.length})")

    // THE pin: drop the source chain entirely — the deep clone shares
    // nothing and serves on (the shallow clone's documented caveat,
    // retired)
    assert(Versioned.dropTableChain(spark, srcDir))
    assert(Versioned.readLatest(spark, tgtDir).as[(Long, String)].collect().toSet
      == expect, "the clone must survive DROP of the source")
    // and lives its own life
    Versioned.writeVersion(Seq((100L, "x")).toDF("id", "v"), tgtDir, SaveMode.Append)
    assert(Versioned.readLatest(spark, tgtDir).count() == 39)

    // ABSOLUTE refs localize: a shallow clone's refs point into its
    // source; deep-cloning the shallow clone must copy those bytes
    // and rewrite every keyed line — then BOTH ancestors can vanish
    val base2 = Files.createTempDirectory("graft_dclone_b2").toString + "/t"
    Versioned.writeVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), base2)
    val shallow2 = Files.createTempDirectory("graft_dclone_s2").toString + "/t"
    Versioned.cloneTable(spark, base2, shallow2)
    val deep2 = Files.createTempDirectory("graft_dclone_d2").toString + "/t"
    assert(Versioned.cloneTableDeep(spark, shallow2, deep2) == 0)
    assert(Versioned.dropTableChain(spark, shallow2))
    assert(Versioned.dropTableChain(spark, base2))
    assert(Versioned.readLatest(spark, deep2).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")),
      "localized absolute refs must survive dropping both ancestors")

    // SQL surface: CALL system.clone(…, deep => true)
    spark.conf.set("spark.sql.catalog.versioned", "graft.sql.VersionedCatalog")
    val deep3 = Files.createTempDirectory("graft_dclone_d3").toString + "/t"
    spark.sql(s"CALL versioned.system.clone('$tgtDir', '$deep3', deep => true)")
    assert(Versioned.readLatest(spark, deep3).count() == 39)

    // SIDECAR blooms: the copied sidecar's ref rewrites in the
    // reclaim-comparable (scheme-free) spelling — the fork's own
    // vacuum must NOT reap it, and lookups load it with no ancestor
    val sdir = Files.createTempDirectory("graft_dclone_sc").toString + "/t"
    def mkI(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "v")
    Versioned.writeVersion(mkI(0L until 100L by 2).coalesce(1), sdir)
    Versioned.writeVersion(mkI(1L until 100L by 2).coalesce(1), sdir, SaveMode.Append)
    spark.conf.set("spark.graft.bloom.sidecarMinBytes", "1")
    try Versioned.declareBloomColumn(spark, sdir, "id")
    finally spark.conf.unset("spark.graft.bloom.sidecarMinBytes")
    val stgt = Files.createTempDirectory("graft_dclone_sct").toString + "/t"
    assert(Versioned.cloneTableDeep(spark, sdir, stgt) == 0)
    assert(Versioned.dropTableChain(spark, sdir))
    def bloomPlan() = Versioned.planDataFiles(spark, stgt,
      Versioned.latestVersion(spark, stgt).get,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 2L)))
    val planned0 = bloomPlan()
    assert(planned0.length == 1,
      s"the fork's copied sidecar bloom must prune (planned $planned0)")
    Versioned.pruneVersions(spark, stgt, keepLast = 1, orphanMinAgeMs = 0L)
    assert(bloomPlan() == planned0,
      "the fork's own vacuum must not reap its copied bloom sidecar")
  }

  test("optimized writes: rebalance shapes commits to the AQE advisory size; partitioned writes converge per partition; no-op when AQE or the flag is off") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val base = java.nio.file.Files.createTempDirectory("graft_ow").toString
    val df = spark.range(0, 4000)
      .select($"id", ($"id" % 5).cast("string").as("k")).repartition(16)
    def nFiles(d: String): Int = {
      val v = Versioned.latestVersion(spark, d).get
      Versioned.allLiveFilesMap(spark, d, v).valuesIterator.map(_.size).sum
    }
    // OFF (the default): the commit inherits the query's 16-task shape
    Versioned.writeVersion(df, s"$base/off")
    assert(nFiles(s"$base/off") == 16)
    spark.conf.set("spark.graft.optimizeWrite.enabled", "true")
    try {
      // ON: AQE rebalance coalesces a tiny batch to one advisory-sized file
      Versioned.writeVersion(df, s"$base/on")
      assert(nFiles(s"$base/on") <= 2, s"got ${nFiles(s"$base/on")} files")
      assert(Versioned.readLatest(spark, s"$base/on").count() == 4000)
      // PARTITIONED: rebalance BY the partition columns — files track
      // partition values, not tasks × partitions (16×5 without it)
      Versioned.writeVersionPartitioned(df, s"$base/onp", Seq("k"))
      assert(nFiles(s"$base/onp") <= 5, s"got ${nFiles(s"$base/onp")} files")
      assert(Versioned.readLatest(spark, s"$base/onp").count() == 4000)
      // AQE off → the hint would shuffle to spark.sql.shuffle.partitions
      // and make MORE files — the shape must fall through untouched
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        Versioned.writeVersion(df, s"$base/noaqe")
        assert(nFiles(s"$base/noaqe") == 16)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally spark.conf.unset("spark.graft.optimizeWrite.enabled")
  }

  test("bounded auto compaction: compactSmallDirs coalesces only the small dirs, applies dv masks physically, commutes with history; the post-commit tick keeps an append-fleet bounded; off by default") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val base = java.nio.file.Files.createTempDirectory("graft_ac").toString
    val dir = s"$base/t"
    def dirsOf(d: String): Seq[String] = {
      val v = Versioned.latestVersion(spark, d).get
      Versioned.versionInfo(spark, d, v).dataDirs
    }
    // ten tiny commits + one BIG dir that must NOT be rewritten
    Versioned.writeVersion(spark.range(0, 200000)
      .select($"id", lit("big").as("v")), dir)
    val bigDir = dirsOf(dir).head
    (0 until 10).foreach(i => Versioned.writeVersion(
      Seq((1000000L + i, s"x$i")).toDF("id", "v").coalesce(1), dir, SaveMode.Append))
    // a dv'd key inside a small dir applies PHYSICALLY on the way through
    Versioned.deleteByKeys(spark, dir,
      Seq(1000003L).toDF("id"), "id")
    val expect = Versioned.readLatest(spark, dir)
      .as[(Long, String)].collect().toSet
    val preV = Versioned.latestVersion(spark, dir).get
    assert(dirsOf(dir).length == 11)
    // target sized BETWEEN the fragments (~1 KB each) and the big dir
    // (~1.5 MB): selection is by size, not by age or order
    val v = Versioned.compactSmallDirs(spark, dir,
      targetBytes = 100L * 1024, minDirs = 4)
    assert(v.nonEmpty)
    val after = dirsOf(dir)
    assert(after.length == 2, s"10 small dirs must coalesce to 1: $after")
    assert(after.contains(bigDir), "the big dir must carry VERBATIM, never rewritten")
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet == expect)
    // the masked row is gone PHYSICALLY from the rewritten dir
    val rewritten = after.filterNot(_ == bigDir).head
    val rewrittenRows = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, rewritten).toString)
    assert(rewrittenRows.where($"id" === 1000003L).isEmpty)
    // history intact: the pre-compact version still serves all 11 dirs
    assert(Versioned.readVersion(spark, dir, preV)
      .as[(Long, String)].collect().toSet == expect)
    // nothing left to do — the re-probe pays one manifest read
    assert(Versioned.compactSmallDirs(spark, dir,
      targetBytes = 100L * 1024, minDirs = 4).isEmpty)

    // the POST-COMMIT tick: with the conf on, an append fleet stays
    // bounded without any explicit call
    val dir2 = s"$base/auto"
    spark.conf.set("spark.graft.autoCompact.enabled", "true")
    spark.conf.set("spark.graft.autoCompact.minDirs", "4")
    try {
      (0 until 12).foreach(i => Versioned.writeVersion(
        Seq((i.toLong, s"a$i")).toDF("id", "v").coalesce(1), dir2,
        if (i == 0) SaveMode.Overwrite else SaveMode.Append))
      assert(dirsOf(dir2).length < 4,
        s"the tick must keep the dir count bounded: ${dirsOf(dir2)}")
      assert(Versioned.readLatest(spark, dir2).count() == 12)
    } finally {
      spark.conf.unset("spark.graft.autoCompact.enabled")
      spark.conf.unset("spark.graft.autoCompact.minDirs")
    }
    // off by default: the same fleet fragments
    val dir3 = s"$base/noauto"
    (0 until 6).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, s"b$i")).toDF("id", "v").coalesce(1), dir3,
      if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    assert(dirsOf(dir3).length == 6)
  }

  test("TBLPROPERTIES: SET/UNSET commit metadata versions; SHOW serves from the manifest; versions keep their own; graft.autoCompact.* properties drive the tick with the session conf winning both ways; overwrite keeps, RTAS resets") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val base = java.nio.file.Files.createTempDirectory("graft_props").toString
    val dir = s"$base/t"
    spark.conf.set("spark.sql.catalog.graft_tp", "graft.sql.VersionedCatalog")
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    // SET through SQL: one metadata commit
    spark.sql(s"ALTER TABLE graft_tp.`$dir` SET TBLPROPERTIES(" +
      "'owner.team'='curation', 'graft.autoCompact.minDirs'='4')")
    assert(Versioned.latestVersion(spark, dir).contains(1))
    assert(Versioned.tableProperties(spark, dir, 1) ==
      Map("owner.team" -> "curation", "graft.autoCompact.minDirs" -> "4"))
    // SHOW TBLPROPERTIES serves them (the DSv2 properties() seam)
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft_tp.`$dir`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("owner.team").contains("curation"), shown.toString)
    // versioned like everything else: v0 has none, v1 has them
    assert(Versioned.tableProperties(spark, dir, 0).isEmpty)
    // replace-by-key, UNSET drops, missing key is a no-op
    spark.sql(s"ALTER TABLE graft_tp.`$dir` SET TBLPROPERTIES('owner.team'='data')")
    assert(Versioned.tableProperties(spark, dir,
      Versioned.latestVersion(spark, dir).get)("owner.team") == "data")
    spark.sql(s"ALTER TABLE graft_tp.`$dir` UNSET TBLPROPERTIES('owner.team')")
    assert(!Versioned.tableProperties(spark, dir,
      Versioned.latestVersion(spark, dir).get).contains("owner.team"))
    assert(Versioned.unsetTableProperties(spark, dir, Seq("never.there")).isEmpty)
    // a data OVERWRITE keeps properties (definition, not data);
    // REPLACE TABLE resets them
    Versioned.writeVersion(Seq((9L, "z")).toDF("id", "v"), dir, SaveMode.Overwrite)
    assert(Versioned.tableProperties(spark, dir,
      Versioned.latestVersion(spark, dir).get)
      .get("graft.autoCompact.minDirs").contains("4"))
    spark.sql(s"REPLACE TABLE graft_tp.`$dir` (id BIGINT, v STRING)")
    assert(Versioned.tableProperties(spark, dir,
      Versioned.latestVersion(spark, dir).get).isEmpty)

    // ── the PROPERTY-driven autoCompact tick: no session conf at all
    val dir2 = s"$base/auto"
    Versioned.writeVersion(Seq((0L, "x0")).toDF("id", "v").coalesce(1), dir2)
    Versioned.setTableProperties(spark, dir2, Map(
      "graft.autoCompact.enabled" -> "true", "graft.autoCompact.minDirs" -> "4"))
    (1 until 10).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, s"x$i")).toDF("id", "v").coalesce(1), dir2, SaveMode.Append))
    def dirsOf(d: String) = Versioned.versionInfo(spark, d,
      Versioned.latestVersion(spark, d).get).dataDirs
    assert(dirsOf(dir2).length < 4,
      s"the table property alone must drive the tick: ${dirsOf(dir2)}")
    assert(Versioned.readLatest(spark, dir2).count() == 10)
    // the session conf OVERRIDES the property — in BOTH directions
    spark.conf.set("spark.graft.autoCompact.enabled", "false")
    try {
      val before = dirsOf(dir2).length
      (10 until 16).foreach(i => Versioned.writeVersion(
        Seq((i.toLong, s"x$i")).toDF("id", "v").coalesce(1), dir2, SaveMode.Append))
      assert(dirsOf(dir2).length == before + 6,
        "conf=false must win over property=true")
    } finally spark.conf.unset("spark.graft.autoCompact.enabled")
    // malformed keys refuse before any commit
    val bad = intercept[Exception] {
      Versioned.setTableProperties(spark, dir2, Map("no colons" -> "x")) }
    assert(bad.getMessage.contains("word-shaped"), bad.getMessage)

    // CREATE TABLE … TBLPROPERTIES lands them in the v0 commit
    val dir3 = s"$base/created"
    spark.sql(s"CREATE TABLE graft_tp.`$dir3` (id BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.autoCompact.enabled'='true', 'pii.scrubbed'='false')")
    assert(Versioned.tableProperties(spark, dir3, 0) == Map(
      "graft.autoCompact.enabled" -> "true", "pii.scrubbed" -> "false"))
    // CTAS refuses properties with the ALTER path named (no silent drop)
    val dir4 = s"$base/ctas"
    val eC = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_tp.`$dir4` TBLPROPERTIES('a.b'='c') " +
        s"AS SELECT * FROM graft_tp.`$dir3`") }
    def msgsC(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgsC(t.getCause)
    assert(msgsC(eC).exists(_.contains("SET TBLPROPERTIES")), msgsC(eC).mkString("; "))
  }

  test("fsck: reports manifest refs to vanished files (driver and distributed probes agree); repair drops exactly those refs in one commit; clean tables report nothing and commit nothing") {
    import graft.ext.Versioned
    import org.apache.spark.sql.SaveMode
    val base = java.nio.file.Files.createTempDirectory("graft_fsck").toString
    val dir = s"$base/t"
    (0 until 3).foreach(i => Versioned.writeVersion(
      Seq((i.toLong, s"x$i")).toDF("id", "v").coalesce(1), dir,
      if (i == 0) SaveMode.Overwrite else SaveMode.Append))
    assert(Versioned.fsck(spark, dir).isEmpty)
    val vClean = Versioned.latestVersion(spark, dir).get
    assert(vClean == 2, "fixture: three commits")
    // vanish v1's single data file OUT OF BAND (the failure fsck exists for)
    val v1dir = Versioned.addedDataDirs(spark, dir, 1).head
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(v1dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.delete(victim, false))
    // report-only: driver probe and the distributed probe agree
    val reported = Versioned.fsck(spark, dir)
    assert(reported.map(_._2) == Seq(victim.getName), reported.toString)
    spark.conf.set("spark.graft.fsck.distributedMinFiles", "1")
    try assert(Versioned.fsck(spark, dir) == reported)
    finally spark.conf.unset("spark.graft.fsck.distributedMinFiles")
    assert(Versioned.latestVersion(spark, dir).contains(vClean),
      "report-only must not commit")
    // repair: ONE commit drops exactly the dead refs; reads serve again
    Versioned.fsck(spark, dir, repair = true)
    assert(Versioned.latestVersion(spark, dir).contains(vClean + 1))
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((0L, "x0"), (2L, "x2")))
    assert(Versioned.fsck(spark, dir).isEmpty)
    // the loss is auditable: the pre-repair version still names the file
    assert(Versioned.versionInfo(spark, dir, vClean).dataDirs.contains(v1dir))
  }

  test("idempotent batch writes: txnAppId/txnVersion dedupes retried format(\"graft\") writes; new versions land; half the pair refuses") {
    import graft.ext.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft_txn").toString
    val dir = s"$base/t"
    Versioned.writeVersion(Seq((1L, "a")).toDF("id", "v"), dir)
    def write(ver: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "v").write.format("graft")
        .option("txnAppId", "loader-7").option("txnVersion", ver.toString)
        .mode("append").save(dir)
    write(0L, Seq((2L, "b")))
    assert(Versioned.readLatest(spark, dir).count() == 2)
    // a RETRY of the same (appId, version) is detected from manifest
    // bytes and skipped — no duplicate rows, no new version
    val vBefore = Versioned.latestVersion(spark, dir).get
    write(0L, Seq((2L, "b")))
    assert(Versioned.readLatest(spark, dir).count() == 2)
    assert(Versioned.latestVersion(spark, dir).contains(vBefore))
    // the next version lands; an OLD version number skips even then
    write(1L, Seq((3L, "c")))
    write(0L, Seq((99L, "dup")))
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // half the option pair refuses with both names spelled
    val e = intercept[Exception] {
      Seq((4L, "d")).toDF("id", "v").write.format("graft")
        .option("txnAppId", "loader-7").mode("append").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("txnVersion")), msgs(e).mkString("; "))
    // idempotent OVERWRITE: the retry must not double-commit a version
    Seq((10L, "x")).toDF("id", "v").write.format("graft")
      .option("txnAppId", "loader-7").option("txnVersion", "2")
      .mode("overwrite").save(dir)
    val vOver = Versioned.latestVersion(spark, dir).get
    Seq((10L, "x")).toDF("id", "v").write.format("graft")
      .option("txnAppId", "loader-7").option("txnVersion", "2")
      .mode("overwrite").save(dir)
    assert(Versioned.latestVersion(spark, dir).contains(vOver))
    assert(Versioned.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
      Set((10L, "x")))
  }

  test("rearrange flag (dataChange=false): compaction commits flag, the flag is version-scoped, checkpoint resolution agrees, restore/DML never flag") {
    import graft.ext.{Maintenance, Versioned}
    import org.apache.spark.sql.SaveMode
    val base = java.nio.file.Files.createTempDirectory("graft_rflag").toString
    val dir = s"$base/t"
    // checkpoint EVERY commit so the flagged version resolves through
    // its checkpoint sidecar, not only the delta fold — both paths
    // must agree on the version-scoped flag
    spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
    try {
      (0 until 5).foreach(i => Versioned.writeVersion(
        Seq((i.toLong, s"x$i")).toDF("id", "v").coalesce(1), dir,
        if (i == 0) SaveMode.Overwrite else SaveMode.Append))
      assert(!Versioned.isRearrange(spark, dir, 4))
      val cv = Versioned.compactSmallDirs(spark, dir, minDirs = 2).get
      assert(Versioned.isRearrange(spark, dir, cv),
        "the compaction commit must carry the dataChange=false flag")
      // version-scoped: the NEXT commit clears it
      Versioned.writeVersion(Seq((50L, "y")).toDF("id", "v"), dir, SaveMode.Append)
      val after = Versioned.latestVersion(spark, dir).get
      assert(after == cv + 1 && !Versioned.isRearrange(spark, dir, after))
      // a RESTORE to the flagged version is NOT itself a rearrange —
      // it genuinely drops dirs, and streams must fail on it
      val rv = Versioned.restoreVersion(spark, dir, cv)
      assert(!Versioned.isRearrange(spark, dir, rv))
      // partition-scoped manual compaction flags too
      val dirP = s"$base/p"
      (0 until 4).foreach(i => Versioned.writeVersionPartitioned(
        Seq((i.toLong, (i % 2).toString)).toDF("id", "k").coalesce(1), dirP,
        Seq("k"), if (i == 0) SaveMode.Overwrite else SaveMode.Append))
      val Some((_, _, pv)) = Maintenance.compactVersionedWhere(
        spark, dirP, "k = '0'", 128L * 1024 * 1024)
      assert(Versioned.isRearrange(spark, dirP, pv),
        "partition-scoped compaction preserves content — it must flag")
      // row-level DML is a DATA change: replaceWhere must not flag
      val rw = Versioned.replaceWhere(
        Seq((0L, "0")).toDF("id", "k"), dirP, "k = '0'").get
      assert(!Versioned.isRearrange(spark, dirP, rw))
      // flat whole-table Z-ORDER and compact_files flag too, commute
      // with the chain (no overwrite serialization), and RETIRE the
      // dv lines they applied physically
      val dirF = s"$base/f"
      Versioned.writeVersion(spark.range(0, 100).toDF("id")
        .withColumn("k", $"id" % 7).repartition(4), dirF)
      Versioned.deleteByKeys(spark, dirF, Seq(5L).toDF("id"), "id")
      val zv = Maintenance.zorderVersionedCols(spark, dirF, Seq("id", "k"), 1)
      assert(Versioned.isRearrange(spark, dirF, zv))
      assert(Versioned.versionInfo(spark, dirF, zv).dvDirs.isEmpty,
        "a whole-table rewrite applies the mask physically and retires the dv")
      assert(Versioned.readLatest(spark, dirF).count() == 99)
      Versioned.writeVersion(Seq((200L, 0L)).toDF("id", "k").coalesce(1),
        dirF, SaveMode.Append)
      Maintenance.compact(spark, dirF, store = graft.ext.ManifestStore)
      val cvF = Versioned.latestVersion(spark, dirF).get
      assert(Versioned.isRearrange(spark, dirF, cvF))
      assert(Versioned.readLatest(spark, dirF).count() == 100)
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
  }
}
