package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("textStats counts tokens/stopwords/punct and derives ratios") {
    val df = Seq((1L, "the  quick brown fox, and the dog.")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(df).collect().head
    assert(r.getAs[Long]("n_tokens") == 7L)
    assert(r.getAs[Long]("n_stopwords") == 3L) // the, and, the
    assert(r.getAs[Long]("n_punct") == 2L)     // comma + period
    assert(r.getAs[Double]("stopword_ratio") == 3.0 / 7.0)
  }

  test("languageId picks marker-word argmax; CJK short-circuits to zh") {
    val df = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "der hund und die katze ist da"),
      (3L, "el gato y la casa es grande"),
      (4L, "le chat et les maisons est du pain"),
      (5L, "你好世界"),
      (6L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr",
      5L -> "zh", 6L -> "unknown"))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq(Tuple1("A  B\tc"), Tuple1("a b C")).toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("repetitionSignals: dup-word and top-n-gram fractions, short-doc nulls") {
    val df = Seq(
      (1L, "a b a b a b"),        // 6 tokens, 2 distinct; "a b" bigram 3 of 5
      (2L, "w x y z"),            // all distinct
      (3L, "solo"),               // 1 token: no bigrams/trigrams
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_tokens") == 6L)
    assert(got(1L).getAs[Double]("dup_word_frac") == 1.0 - 2.0 / 6.0)
    assert(got(1L).getAs[Double]("top_2gram_frac") == 3.0 / 5.0)
    assert(got(1L).getAs[Double]("top_3gram_frac") == 2.0 / 4.0) // "a b a" ×2
    assert(got(2L).getAs[Double]("dup_word_frac") == 0.0)
    assert(got(2L).getAs[Double]("top_2gram_frac") == 1.0 / 3.0)
    assert(got(3L).isNullAt(got(3L).fieldIndex("top_2gram_frac")))
    assert(got(4L).getAs[Long]("n_tokens") == 0L)
    assert(got(4L).getAs[Double]("dup_word_frac") == 0.0)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "morning sun rises slowly above the quiet green valley and birds sing"
  private val corpus = Seq(
    (1L, base),
    (2L, base),                              // exact dup of 1
    (3L, base.replace("dog", "cat")),        // near dup of 1 (1 of 24 tokens)
    (4L, "completely different words about spark shuffles and partitions here"),
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per identical text") {
    val survivors = Dedup.dedupExact(corpus).as[Long].collect().toSet
    assert(survivors == Set(1L, 3L, 4L))
    val groups = Dedup.exactDupGroups(corpus)
      .where(col("n") > 1).collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("keep_id") == 1L)
  }

  test("simhashNearDupPairs: identical text at hamming 0, unrelated never pairs") {
    val pairs = Dedup.simhashNearDupPairs(corpus)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
    // lossless blocking precondition is enforced
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(corpus, maxHamming = 4, bands = 4)
    }
    assert(ex.getMessage.contains("bands"))
  }

  test("dedupExactBest keeps the highest-scored duplicate, ties to lowest id") {
    val scored = Seq(
      (1L, base, 0.2), (2L, base, 0.8), (5L, base, 0.8),  // dup group: 2 wins (0.8, tie beats 5)
      (3L, base.replace("dog", "cat"), 0.1),
      (4L, "completely different words about spark shuffles", 0.9),
    ).toDF("doc_id", "text", "score")
    val survivors = Dedup.dedupExactBest(scored, "score")
      .as[Long].collect().toSet
    assert(survivors == Set(2L, 3L, 4L))
  }

  test("minhash signatures are equal for identical text, length k") {
    val sigs = corpus.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), n = 3, k = 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 16)
    assert(sigs(1L) != sigs(4L))
  }

  test("nearDupPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(corpus, minEstJaccard = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("sig_agree kernel matches the HOF fold and keeps the pair stage fold-free") {
    import graft.functions.CrossHashExprs
    val sigs = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 7L)),
      (Array(5L, 5L, 5L, 5L), Array(5L, 5L, 5L, 5L))).toDF("sig_a", "sig_b")
    val hof = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val both = sigs.select(
      CrossHashExprs.sigAgree(col("sig_a"), col("sig_b")).as("k"), hof.as("h"))
      .as[(Int, Int)].collect()
    assert(both.forall { case (k, h) => k == h })
    assert(both.map(_._1).toSeq == Seq(2, 4))
    // the registered pair plan carries no interpreted HOF fold anywhere
    val pairs = Dedup.nearDupPairs(corpus, minEstJaccard = 0.4)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("aggregate(") && !plan.contains("zip_with"),
      "pair stage must not contain an interpreted HOF fold")
  }

  test("blockedJaccard computes exact shingle jaccard within blocks") {
    val df = Seq(
      ("s1", 1L, "a b c d e"), ("s1", 2L, "a b c d e"), ("s1", 3L, "x y z w v"),
      ("s2", 4L, "a b c d e")).toDF("source", "doc_id", "text")
    val got = Dedup.blockedJaccard(df, "source", minJaccard = 0.9, maxDocFrac = 1.0)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0))) // 3↛1 (disjoint), 4 in another block
  }

  test("dupComponents merges transitive pairs into min-labeled clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupComponents(pairs)
      .select("id", "component", "is_survivor")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      8L -> ((1L, false)), 9L -> ((1L, false)),
      5L -> ((5L, true)), 6L -> ((5L, false))))
  }

  test("dupComponents closes a 1000-node chain in O(log n) rounds") {
    // path graph 0-1-2-…-999: diameter 999. Min-label propagation alone
    // needs ~999 rounds; pointer doubling must close it in ≤10. Force the
    // DISTRIBUTED path (the small graph would otherwise take the driver
    // union-find shortcut).
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val (comp, iters) = Dedup.dupComponentsIterated(pairs)
      val rows = comp.select("id", "component").as[(Long, Long)].collect()
      assert(rows.length == 1000)
      assert(rows.forall(_._2 == 0L), "every node reaches the min id 0")
      assert(iters >= 1 && iters <= 10,
        s"pointer doubling should converge distributed in ≤10 rounds, took $iters")
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
    // the driver union-find path must produce the identical labels
    val (drv, drvIters) = Dedup.dupComponentsIterated(pairs)
    assert(drvIters == 0, "small graph takes the driver path")
    assert(drv.select("id", "component").as[(Long, Long)].collect()
      .forall(_._2 == 0L))
  }

  test("contamination: overlap fraction of test n-grams found in train") {
    val train = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val test = Seq(
      (1L, "a b c d e f"),     // identical: every 3-gram contaminated
      (2L, "a b c x y z"),     // shares exactly "a b c" of its 4 3-grams
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val got = Dedup.contamination(train, test, n = 3)
      .select("doc_id", "n_grams", "n_overlap", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 4L, 1.0)))
    assert(got(2L) == ((2L, 4L, 1L, 0.25)))
    assert(got(3L) == ((3L, 4L, 0L, 0.0)))
  }

  test("winnowing: a shared substring of length >= k + w - 1 guarantees a " +
       "shared fingerprint; disjoint texts share none") {
    val para = "the common paragraph both documents embed verbatim here"
    val docs = Seq(
      (1L, s"first document unique preamble text. $para"),
      (2L, s"$para. second document with its own completely different tail"),
      (3L, "zq xv jk wq zzp qqy kkx jjv xxw wwv vvu uuz rrq ppx yyk"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    // the winnowing guarantee on the embedded paragraph
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    val pairs = Dedup.winnowOverlapPairs(docs, minShared = 2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowFingerprints: short docs yield no fingerprints, not errors") {
    val docs = Seq((1L, "tiny"), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(docs).count() == 0L)
  }

  test("nearDupRecall: banded LSH finds the planted near-identical pair " +
       "(recall 1 on an easy corpus)") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat sleeps on the warm windowsill every single afternoon"
    val docs = (Seq(
      (1L, base),
      (2L, base + " extra"),                 // near-identical to 1
      (3L, "completely different text about spark partitions and shuffles " +
        "with nothing shared at all in any window of tokens anywhere")) ++
      (10L to 19L).map(i => (i, s"filler document number $i with unrelated words")))
      .toDF("doc_id", "text")
    val r = Dedup.nearDupRecall(docs).collect().head
    assert(r.getAs[Long]("n_exact") >= 1L)
    assert(r.getAs[Long]("n_found") == r.getAs[Long]("n_exact"))
    assert(r.getAs[Double]("recall") == 1.0)
  }

  test("nearDupRecall: sampleFraction gates the exact arm to the " +
       "deterministic md5-bucket subset") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat sleeps on the warm windowsill every single afternoon"
    // every doc is near-identical (one distinct tail token), so the exact
    // arm finds ALL pairs among whatever docs it is handed — n_exact
    // therefore reveals the exact arm's input set exactly
    val docs = (1L to 20L).map(i => (i, s"$base tail$i")).toDF("doc_id", "text")
    val sampleIds = Sampling.hashSample(docs, 0.5, "doc_id", "recall")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampleIds.nonEmpty && sampleIds.size < 20) // a proper subset
    val r = Dedup.nearDupRecall(docs, sampleFraction = 0.5).collect().head
    val m = sampleIds.size.toLong
    assert(r.getAs[Long]("n_exact") == m * (m - 1) / 2)
  }

  test("componentSurvivorsBest keeps the best-quality member per cluster, " +
       "ties to the lowest id") {
    val components = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),  // cluster 1
      (7L, 7L), (9L, 7L)             // cluster 7
    ).toDF("id", "component")
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9),  // 2 and 3 tie → keep 2
      (7L, 0.5), (9L, 0.8)              // 9 wins
    ).toDF("doc_id", "quality")
    val got = Dedup.componentSurvivorsBest(components, scored).collect()
      .map(r => r.getAs[Long]("component") -> r.getAs[Long]("best_id")).toMap
    assert(got == Map(1L -> 2L, 7L -> 9L))
  }

  test("contaminationBloom matches contamination exactly (answer-invariant " +
       "prefilter) and rejects over-gate train sides") {
    val train = (1L to 40L).map(i => (i, s"tok$i alpha beta gamma tok$i end"))
      .toDF("doc_id", "text")
    val test = Seq(
      (100L, "tok7 alpha beta gamma tok7 end"),  // contaminated
      (101L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val exact = Dedup.contamination(train, test, n = 3)
      .select("doc_id", "n_grams", "n_overlap", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    val bloomed = Dedup.contaminationBloom(train, test, n = 3)
      .select("doc_id", "n_grams", "n_overlap", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(bloomed == exact)
    assert(exact.exists(r => r._1 == 100L && r._3 > 0L))
    // the driver gate refuses unbounded train sides
    spark.conf.set("graft.bloom.maxItems", "10")
    try intercept[IllegalArgumentException] {
      Dedup.contaminationBloom(train, test, n = 3)
    } finally spark.conf.unset("graft.bloom.maxItems")
  }

  test("contaminationBloom plan: the bloom predicate rides the corpus gram " +
       "scan; no cartesian product anywhere") {
    val train = (1L to 20L).map(i => (i, s"alpha beta gamma tok$i"))
      .toDF("doc_id", "text")
    val test = Seq((100L, "alpha beta gamma zz")).toDF("doc_id", "text")
    val plan = Dedup.contaminationBloom(train, test, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"bloom predicate must appear in the executed plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("bloom kernel: no false negatives, serialized roundtrip") {
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(1000, 0.01)
    (0L until 500L).foreach(i => bf.putLong(i * 7919L))
    val bytes = graft.functions.BloomExprs.serialize(bf)
    val df = (0L until 500L).map(_ * 7919L).toDF("x")
    val kept = df.where(graft.functions.BloomExprs.mightContain(col("x"), bytes))
    assert(kept.count() == 500L) // membership can never be missed
  }

  test("contamination counts DISTINCT test grams — repeats weigh once") {
    // "x y x y x y" has five 2-gram occurrences but only two distinct
    // 2-grams {"x y", "y x"}; train contains "x y" only. Multiplicity
    // counting would report 5 grams / 3 overlaps.
    val train = Seq((10L, "p x y q")).toDF("doc_id", "text")
    val test = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val got = Dedup.contamination(train, test, n = 2)
      .select("doc_id", "n_grams", "n_overlap", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().head
    assert(got == ((1L, 2L, 1L, 0.5)))
  }

  test("dupComponents with string ids: small graphs fall through to the " +
       "distributed path instead of crashing in the driver cast") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    // well under driverMaxEdges — the integral-type gate must reroute
    val (comp, iters) = Dedup.dupComponentsIterated(pairs)
    assert(iters >= 1, "string ids must take the distributed path")
    val rows = comp.select("id", "component").as[(String, String)].collect().toMap
    assert(rows("a") == "a" && rows("b") == "a" && rows("c") == "a")
    assert(rows("x") == "x" && rows("y") == "x")
  }

  test("driver union-find and distributed doubling agree on random graphs") {
    val rnd = new scala.util.Random(4242L)
    (1 to 3).foreach { _ =>
      val n = 60
      val pairs = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("id_a", "id_b")
      val driver = Dedup.dupComponents(pairs)
        .select("id", "component").as[(Long, Long)].collect().toSet
      spark.conf.set("graft.cc.driverMaxEdges", "0")
      val dist =
        try Dedup.dupComponents(pairs)
          .select("id", "component").as[(Long, Long)].collect().toSet
        finally spark.conf.unset("graft.cc.driverMaxEdges")
      assert(driver == dist)
    }
  }

  test("dedup operators leave no persisted RDDs behind (scratch staging)") {
    Dedup.nearDupPairs(corpus, minEstJaccard = 0.4).count()
    Dedup.blockedJaccard(corpus.withColumn("source", lit("s")), "source").count()
    assertNoLingeringCache()
  }

  test("simhash: identical text → identical hash; similar → small hamming") {
    val withH = Dedup.withSimhash(corpus).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(withH(1L) == withH(2L))
    val d13 = java.lang.Long.bitCount(withH(1L) ^ withH(3L))
    val d14 = java.lang.Long.bitCount(withH(1L) ^ withH(4L))
    assert(d13 < d14, s"near-dup hamming $d13 should be < unrelated $d14")
    // hammingDistance column matches JVM popcount
    val dist = corpus.as("a").crossJoin(corpus.as("b"))
      .where(col("a.doc_id") === 1 && col("b.doc_id") === 3)
    val viaCol = Dedup.withSimhash(corpus).as("x")
      .join(Dedup.withSimhash(corpus).as("y"),
        col("x.doc_id") === 1 && col("y.doc_id") === 3)
      .select(Dedup.hammingDistance(col("x.simhash"), col("y.simhash")))
      .collect().head.getInt(0)
    assert(viaCol == d13)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors; NULL (not a crash) for zero vectors") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(1f, 1f), Array(1f, 1f)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    val zero = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(zero.select(Similarity.cosine(col("a"), col("b")))
      .as[Option[Double]].collect().head.isEmpty)
    // empty-input stats derive NULLs, not an ANSI division error
    val st = graft.operators.Stats.summaryStats(
      Seq.empty[Double].toDF("x"), "x").collect().head
    assert(st.getAs[Long]("n") == 0L && st.isNullAt(st.fieldIndex("mean_val")))
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    // vec 0 ≈ vec 2, orthogonal to vec 1
    val df = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)), (3L, Array(0.8f, 0.6f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, Seq(0L), k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 1L), (3L, 2L)))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("attachPayload builds binary payload + typed metadata") {
    val df = Seq((1L, "hello")).toDF("doc_id", "text")
    val r = Multimodal.attachPayload(df).select("meta.n_bytes", "meta.mime").collect().head
    assert(r.getAs[Long]("n_bytes") == 5L && r.getAs[String]("mime") == "text/plain")
  }

  test("fakeDecodeFeatures is deterministic with the right shape and range") {
    val df = Seq(Tuple1("payload-a"), Tuple1("payload-a"), Tuple1("payload-b")).toDF("text")
    val feats = Multimodal.withFeatures(Multimodal.attachPayload(df), dim = 8)
      .select("features").as[Seq[Double]].collect()
    assert(feats(0).length == 8)
    assert(feats(0) == feats(1) && feats(0) != feats(2))
    assert(feats.flatten.forall(v => v >= -1.0 && v <= 1.0))
  }
}

class BatchDecodeSpec extends graft.SparkSpec {
  import spark.implicits._
  import graft.llm.{Multimodal, Dedup}
  import org.apache.spark.sql.functions._

  test("decodeBatched: mapPartitions batches with deterministic stub features") {
    val docs = (1L to 150L).map(i => (i, s"payload-$i")).toDF("doc_id", "text")
    val out = Multimodal.decodeBatched(Multimodal.attachPayload(docs),
      dim = 8, batchSize = 64)
    val rows = out.select("doc_id", "features", "batch_size")
      .as[(Long, Seq[Double], Int)].collect()
    assert(rows.length == 150)
    assert(rows.forall(_._2.length == 8))
    assert(rows.forall(_._3 <= 64)) // batch shape respected
    // deterministic: same payload → same features across runs
    val again = Multimodal.decodeBatched(Multimodal.attachPayload(docs),
      dim = 8, batchSize = 64).select("doc_id", "features")
      .as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, f, _) => assert(again(id) == f) }
  }

  test("decodePpmBatched: REAL decode of binary PPM payloads, exact " +
       "channel means; non-PPM rows flow through as ok=false") {
    // a 4x2 gradient: pixel (x,y) = (x*10, y*100, 7); plus a '#' comment
    // in the header (the format allows them) and one non-image payload
    val (w, h) = (4, 2)
    val header = s"P6\n# synthetic gradient\n$w $h\n255\n"
      .getBytes("US-ASCII")
    val pix = for (y <- 0 until h; x <- 0 until w;
                   c <- Seq(x * 10, y * 100, 7)) yield c.toByte
    val ppm = header ++ pix
    val docs = Seq((1L, ppm), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodePpmBatched(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val img = out(1L)
    assert(img.getAs[Boolean]("ok"))
    assert(img.getAs[Int]("width") == 4 && img.getAs[Int]("height") == 2)
    // exact integer means: r = (0+10+20+30)*2/8 = 15, g = (0*4+100*4)/8 = 50
    assert(img.getAs[Double]("mean_r") == 15.0)
    assert(img.getAs[Double]("mean_g") == 50.0)
    assert(img.getAs[Double]("mean_b") == 7.0)
    assert(!out(2L).getAs[Boolean]("ok"))
    assert(out(2L).isNullAt(out(2L).fieldIndex("width")))
  }

  test("decodePpmJvm rejects truncated pixel data and 2-byte maxval") {
    val good = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1,2,3,4,5,6)
    assert(Multimodal.decodePpmJvm(good).isDefined)
    assert(Multimodal.decodePpmJvm(good.dropRight(1)).isEmpty) // truncated
    val deep = "P6\n2 1\n65535\n".getBytes("US-ASCII") ++ new Array[Byte](12)
    assert(Multimodal.decodePpmJvm(deep).isEmpty) // 2 bytes/channel unsupported
  }

  test("decodeImageIoJvm: REAL PNG/BMP decode via JDK ImageIO — exact " +
       "channel means; garbage rejected") {
    val png = Multimodal.pngFileJvm(4, 2, (x, y) => (10 * x, 100 * y, 7))
    assert(new String(png.slice(1, 4), "US-ASCII") == "PNG") // real PNG magic
    val img = Multimodal.decodeImageIoJvm(png).get
    assert(img.width == 4 && img.height == 2)
    assert(img.meanR == 15.0 && img.meanG == 50.0 && img.meanB == 7.0)
    // same pixels through a second JDK codec (BMP): identical exact stats
    val bi = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      bi.setRGB(x, y, (10 * x << 16) | (100 * y << 8) | 7)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "bmp", bos)
    val bmp = Multimodal.decodeImageIoJvm(bos.toByteArray).get
    assert(bmp == img)
    assert(Multimodal.decodeImageIoJvm("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageIoJvm(Array.emptyByteArray).isEmpty)
  }

  test("decodeImageBatched: mixed corpus — PNG rows decode, non-image " +
       "rows flow through as ok=false") {
    val png = Multimodal.pngFileJvm(3, 3, (x, y) => (x + y, x * y, 255))
    val docs = Seq((1L, png), (2L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeImageBatched(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("width") == 3)
    assert(out(1L).getAs[Double]("mean_b") == 255.0)
    assert(!out(2L).getAs[Boolean]("ok"))
    assert(out(2L).isNullAt(out(2L).fieldIndex("width")))
  }

  test("decodeWavBatched: REAL RIFF/PCM16 decode roundtrips wavFileJvm, " +
       "LIST chunks skipped; non-WAV rows flow through as ok=false") {
    val mono = Multimodal.wavFileJvm(Array[Short](100, -200, 300, -32768),
      sampleRate = 8000, nChannels = 1,
      listPayload = "INFOab".getBytes("US-ASCII"))
    val stereo = Multimodal.wavFileJvm(Array[Short](10, -10, 20, -20),
      sampleRate = 44100, nChannels = 2)
    val docs = Seq((1L, mono), (2L, stereo),
      (3L, "not audio at all, too short".getBytes("UTF-8") ++ new Array[Byte](40)))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeWavBatched(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val m = out(1L)
    assert(m.getAs[Boolean]("ok"))
    assert(m.getAs[Long]("n_channels") == 1L &&
      m.getAs[Long]("sample_rate") == 8000L &&
      m.getAs[Long]("bits") == 16L && m.getAs[Long]("n_frames") == 4L)
    assert(m.getAs[Double]("mean_amp") == (100 - 200 + 300 - 32768) / 4.0)
    assert(m.getAs[Double]("ms_amp") ==
      (100.0 * 100 + 200.0 * 200 + 300.0 * 300 + 32768.0 * 32768) / 4.0)
    assert(m.getAs[Long]("peak") == 32768L)
    val st = out(2L)
    assert(st.getAs[Long]("n_channels") == 2L &&
      st.getAs[Long]("n_frames") == 2L &&
      st.getAs[Long]("sample_rate") == 44100L)
    assert(st.getAs[Double]("mean_amp") == 0.0 &&
      st.getAs[Long]("peak") == 20L)
    assert(!out(3L).getAs[Boolean]("ok"))
    assert(out(3L).isNullAt(out(3L).fieldIndex("mean_amp")))
  }

  test("decodeWavJvm rejects truncated data, float formats and odd " +
       "sample widths; decodes PCM8 centered at 128") {
    val good = Multimodal.wavFileJvm(Array[Short](1, 2, 3, 4), 8000, 1)
    assert(Multimodal.decodeWavJvm(good).isDefined)
    assert(Multimodal.decodeWavJvm(good.dropRight(1)).isEmpty) // truncated
    // flip audioFormat (LE16 at fmt payload offset 20) to 3 = IEEE float
    val float = good.clone(); float(20) = 3
    assert(Multimodal.decodeWavJvm(float).isEmpty)
    // PCM8: same file but bits=8 (offset 34) and data halved — build by hand
    val pcm8 = {
      val b = Multimodal.wavFileJvm(Array[Short](0, 0), 8000, 1).clone()
      b(34) = 8 // bitsPerSample LE16 lo byte
      b(32) = 1 // blockAlign = nCh * 1
      // data payload: 4 unsigned bytes centered at 128
      b(b.length - 4) = (128 + 5).toByte
      b(b.length - 3) = (128 - 5).toByte
      b(b.length - 2) = (128 + 10).toByte
      b(b.length - 1) = (128 - 10).toByte
      b
    }
    val c8 = Multimodal.decodeWavJvm(pcm8)
    assert(c8.isDefined && c8.get.bitsPerSample == 8 && c8.get.nFrames == 4)
    assert(c8.get.meanAmp == 0.0 && c8.get.peakAmp == 10)
  }

  test("blockedJaccard df-cap drops hot shingles but keeps true near-dups") {
    // 6 docs share boilerplate; two are real near-dups beyond it
    val boiler = "terms and conditions apply to all entries in this corpus"
    val df = Seq(
      ("s1", 1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      ("s1", 2L, s"$boiler alpha beta gamma delta epsilon zeta eta iota"),
      ("s1", 3L, s"$boiler completely different tail words here now one"),
      ("s1", 4L, s"$boiler other unrelated closing sentence entirely two"),
      ("s1", 5L, s"$boiler more filler text that matches nothing else three"),
      ("s1", 6L, s"$boiler final doc with its own unique ending four"),
    ).toDF("source", "doc_id", "text")
    val capped = Dedup.blockedJaccard(df, "source",
      minJaccard = 0.3, maxDocFrac = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L))) // boilerplate shingles no longer pair everyone
  }
}

class TokenResizeSpec extends graft.SparkSpec {
  import spark.implicits._

  test("bpeish tokens split contractions, numbers and punctuation") {
    val df = Seq((1L, "The fox's 42 jumps!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df).collect().head
    assert(r.getAs[Long]("n_ws_tokens") == 4L)
    assert(r.getAs[Long]("n_bpeish") == 6L) // The| fox|'s| 42| jumps|!
  }
}

class PackingSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("lengthBucketBatches: same-bucket batches, bounded size, tight pad") {
    val docs = (0 until 100).map(i => (i.toLong, ("w " * (i % 40 + 1)).trim))
      .toDF("doc_id", "text")
    val out = Packing.lengthBucketBatches(docs, bucketTokens = 8,
      batchSize = 4).collect()
    assert(out.length == 100)
    out.foreach { r =>
      val (n, bucket, pad) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bucket"), r.getAs[Long]("pad_to"))
      assert(bucket == (n + 7) / 8)
      assert(pad >= n && pad <= bucket * 8) // tight: pad within the bucket
    }
    // no batch exceeds batchSize rows, and batches fill in order
    val sizes = out.groupBy(r => (r.getAs[Long]("bucket"),
      r.getAs[Long]("batch_idx"))).view.mapValues(_.length)
    assert(sizes.values.forall(_ <= 4))
    sizes.keys.groupBy(_._1).foreach { case (_, batches) =>
      val idxs = batches.map(_._2).toSeq.sorted
      assert(idxs == (0L until idxs.length.toLong)) // contiguous batch ids
    }
  }

  test("packSequences: contiguous offsets, window spans, empty-doc handling") {
    val docs = Seq(
      (1L, "a b c d e"),        // 5 tokens  -> [0, 5)
      (2L, ""),                 // 0 tokens  -> boundary window, n_windows=1
      (3L, "f g h i j k l m"),  // 8 tokens  -> [5, 13)
      (4L, "n o p")             // 3 tokens  -> [13, 16)
    ).toDF("doc_id", "text")
    val r = Packing.packSequences(docs, ctxTokens = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "window_first",
        "window_last", "n_windows")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r(0) == ((1L, 5L, 0L, 0L, 1L, 2L)))   // spans windows 0-1
    assert(r(1) == ((2L, 0L, 5L, 1L, 1L, 1L)))   // empty doc at offset 5
    assert(r(2) == ((3L, 8L, 5L, 1L, 3L, 3L)))   // [5,13) spans 1-3
    assert(r(3) == ((4L, 3L, 13L, 3L, 3L, 1L)))  // fits window 3
    // stream invariant: offsets are the exclusive prefix sum in id order
    val total = r.map(_._2).sum
    assert(r.last._3 + r.last._2 == total)
  }

  test("shuffleShards: keyed-hash permutation, contiguous seq, balanced shards") {
    val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val r = Packing.shuffleShards(docs, nShards = 8)
      .select("doc_id", "shuffle_key", "seq", "shard")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.length == 100)
    // seq is a contiguous 0-based numbering of the (shuffle_key, id) order
    assert(r.map(_._3).sorted.toSeq == (0L until 100L))
    val bySeq = r.sortBy(_._3)
    assert(bySeq.map(x => (x._2, x._1)).toSeq == bySeq.map(x => (x._2, x._1)).sortBy(identity).toSeq)
    // round-robin deal: shard = seq % 8, sizes differ by at most one
    assert(r.forall(x => x._4 == x._3 % 8))
    val sizes = r.groupBy(_._4).values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
    // the permutation actually decorrelates: ids in seq order != id order
    assert(bySeq.map(_._1).toSeq != (1L to 100L).toSeq)
    // deterministic across runs
    val again = Packing.shuffleShards(docs, nShards = 8)
      .select("doc_id", "seq").as[(Long, Long)].collect().toSet
    assert(again == r.map(x => (x._1, x._3)).toSet)
  }

  test("withRunningTotal matches a driver-side prefix sum on a shuffled input") {
    val rows = (1L to 500L).map(i => (i, i % 7))
    val df = rows.reverse.toDF("id", "v").repartition(8)
    val got = graft.operators.GlobalOrder
      .withRunningTotal(df, Seq("id"), "v", "acc")
      .orderBy("id").as[(Long, Long, Long)].collect()
    var run = 0L
    rows.foreach { case (id, v) =>
      val g = got((id - 1).toInt)
      assert(g == ((id, v, run)), s"at id=$id")
      run += v
    }
  }
}
