package graft.llm

import graft.SparkSpec

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  // the classic BPE demo corpus: occurrence counts low×5 lower×2 newest×6
  // widest×3 (Sennrich et al.'s worked example, token-repeated into docs)
  private lazy val docs = Seq(
    (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
    (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")),
  ).toDF("doc_id", "text")

  test("merges follow max pair count with deterministic ties") {
    val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 4)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[Long]("pair_count")))
    // counts: (e,s)=9 (newest 6 + widest 3), (s,t)=9, (t,</none>)… the
    // (lhs, rhs) tie rule picks ('e','s') before ('s','t'); after merging,
    // ('es','t')=9 dominates, then ('l','o')=7 (low 5 + lower 2)
    assert(merges(0) == (("e", "s", 9L)))
    assert(merges(1) == (("es", "t", 9L)))
    assert(merges(2) == (("l", "o", 7L)))
    assert(merges(3) == (("lo", "w", 7L)))
    // every round's local checkpoint is released once training returns
    assertNoLingeringCache()
  }

  test("merging is left-to-right non-overlapping") {
    val d = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(d, nMerges = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[Long]("pair_count")))
    // "aaa": pairs (a,a) twice per occurrence → count 6; merging
    // left-to-right gives [aa, a], so the next round counts (aa, a) = 3
    assert(merges(0) == (("a", "a", 6L)))
    assert(merges(1) == (("aa", "a", 3L)))
  }

  test("training stops when no pair reaches count 2") {
    val d = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(d, nMerges = 10)
    assert(merges.count() == 0) // every pair occurs once
  }

  test("bpeApplyMerges encodes with the ordered merge table (the " +
       "trainer's inverse-direction half)") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val toks = Seq("newest", "widest", "low", "lower", "x").toDF("token")
    val got = TextAnalysis.bpeApplyMerges(toks, merges).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    assert(got("newest") == Seq("n", "e", "w", "est"))
    assert(got("widest") == Seq("w", "i", "d", "est"))
    assert(got("low") == Seq("low"))
    assert(got("lower") == Seq("low", "e", "r"))
    assert(got("x") == Seq("x"))
  }

  test("bpeApplyMerges merges back-to-back pair occurrences like the " +
       "trainer's fold (shared-boundary adjacency)") {
    // 'banana' with (a,n): occurrences at positions 1 and 3 share the
    // boundary after the first 'n' — a single-delimiter replace pattern
    // would consume it and skip the second site, yielding [b,an,a,n,a]
    val toks = Seq("banana", "abab", "nana").toDF("token")
    val got = TextAnalysis.bpeApplyMerges(toks, Seq(("a", "n"))).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    assert(got("banana") == Seq("b", "an", "an", "a"))
    assert(got("nana") == Seq("n", "an", "a"))
    val ab = TextAnalysis.bpeApplyMerges(toks, Seq(("a", "b"))).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    assert(ab("abab") == Seq("ab", "ab"))
  }

  test("bpeApplyMerges handles equal-symbol pairs with leftmost-greedy " +
       "grouping (runs of the same char)") {
    val toks = Seq("aaaa", "aaaaaa", "aaa").toDF("token")
    val got = TextAnalysis.bpeApplyMerges(toks, Seq(("a", "a"))).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    assert(got("aaaa") == Seq("aa", "aa"))
    assert(got("aaaaaa") == Seq("aa", "aa", "aa"))
    assert(got("aaa") == Seq("aa", "a"))
  }

  test("bpeApplyMerges agrees with the merge table its own trainer " +
       "produced on an adjacency-heavy corpus") {
    val d = Seq((1L, "banana banana nananana anan")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(d, nMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val toks = Seq("banana", "nananana", "anan").toDF("token")
    val enc = TextAnalysis.bpeApplyMerges(toks, merges).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    // exact reference: the trainer's greedy left-to-right fold, per merge
    def fold(tok: String): Seq[String] =
      merges.foldLeft(tok.map(_.toString): Seq[String]) {
        case (syms, (a, b)) =>
          syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
      }
    Seq("banana", "nananana", "anan").foreach { t =>
      assert(enc(t) == fold(t), s"$t: got ${enc(t)}, fold says ${fold(t)}")
    }
  }

  test("bpeTrainOneRound applies exactly the trainer's first merge") {
    val firstMerge = TextAnalysis.trainBpeMerges(docs, nMerges = 1)
      .collect().head
    val (a, b) = (firstMerge.getAs[String]("lhs"), firstMerge.getAs[String]("rhs"))
    assert((a, b) == (("e", "s")))
    val rows = TextAnalysis.bpeTrainOneRound(docs).collect()
    val byToken = rows.groupBy(_.getAs[String]("token")).map { case (t, rs) =>
      t -> rs.sortBy(_.getAs[Long]("pos")).map(_.getAs[String]("symbol")).toSeq
    }
    // the merged symbol appears, non-merged chars stay single
    assert(byToken("newest") == Seq("n", "e", "w", "es", "t"))
    assert(byToken("widest") == Seq("w", "i", "d", "es", "t"))
    assert(byToken("low") == Seq("l", "o", "w"))
    // symbols re-concatenate to the token for every row
    assert(byToken.forall { case (t, syms) => syms.mkString == t })
  }

  test("BpeEncode kernel is symbol-for-symbol identical to the chained-" +
       "replace encoder on every tricky shape") {
    val merges = Seq(("a", "n"), ("a", "a"), ("an", "an"), ("e", "s"),
      ("es", "t"), ("l", "o"), ("lo", "w"))
    val toks = Seq("banana", "nana", "abab", "aaaa", "aaaaaa", "aaa",
      "newest", "widest", "low", "lower", "x", "anananan").toDF("token")
    val chained = TextAnalysis.bpeApplyMerges(toks, merges).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    val kernel = TextAnalysis.bpeEncode(toks, merges).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    chained.keys.foreach { t =>
      assert(kernel(t) == chained(t),
        s"$t: kernel ${kernel(t)} vs chained ${chained(t)}")
    }
    // back-to-back and equal-symbol groupings specifically
    assert(kernel("banana") == Seq("b", "anan", "a"))
    assert(kernel("aaaa") == Seq("aa", "aa"))
  }

  test("BpeEncode kernel handles a 10k-merge table in one plan node " +
       "(size independent of merge count)") {
    // 10k merges over a synthetic alphabet; only the first few ever apply,
    // the rest exercise the presence-probe skip path
    val real = Seq(("a", "b"), ("ab", "c"), ("abc", "d"))
    val noise = (0 until 10000).map(i => (s"<$i>", s"[$i]"))
    val merges = real ++ noise
    val toks = Seq("abcd", "abab", "dcba", "xyz").toDF("token")
    val enc = TextAnalysis.bpeEncode(toks, merges)
    // plan text must not grow with the table: one bpe_encode node, no
    // chained replaces
    val plan = enc.queryExecution.analyzed.toString
    assert(plan.contains("bpe_encode"))
    assert(!plan.contains("replace("))
    assert(plan.length < 10000, s"plan unexpectedly large: ${plan.length}")
    val got = enc.collect().map(r => r.getAs[String]("token") ->
      r.getSeq[String](r.fieldIndex("pieces"))).toMap
    assert(got("abcd") == Seq("abcd"))
    assert(got("abab") == Seq("ab", "ab"))
    assert(got("dcba") == Seq("d", "c", "b", "a"))
    assert(got("xyz") == Seq("x", "y", "z"))
  }

  test("BpeEncode kernel agrees with a trained table end to end " +
       "(encode of the training corpus reproduces training segmentation)") {
    val d = Seq((1L, "banana banana nananana anan")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(d, nMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val toks = Seq("banana", "nananana", "anan").toDF("token")
    def fold(tok: String): Seq[String] =
      merges.foldLeft(tok.map(_.toString): Seq[String]) {
        case (syms, (a, b)) =>
          syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
      }
    val enc = TextAnalysis.bpeEncode(toks, merges).collect()
      .map(r => r.getAs[String]("token") ->
        r.getSeq[String](r.fieldIndex("pieces"))).toMap
    Seq("banana", "nananana", "anan").foreach { t =>
      assert(enc(t) == fold(t), s"$t: got ${enc(t)}, fold says ${fold(t)}")
    }
  }
}
