package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimHash64, TextAnalysis}
import graft.operators.{Analytics, Dedup, Similarity}

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  /** Ground truth for the connected-components specs: every node of
    * `edges` mapped to its component's minimum, by local union-find.
    */
  private def unionFindRoots(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("bm25TopK matches the hand-computed integer formula exactly") {
    // N=4, total_len=14, avgl = 14 div 4 = 3
    val d = docs(
      0L -> "spark hash join fast",
      1L -> "spark spark spark table",
      2L -> "window agg window",
      3L -> "scan scan filter")
    val got = TextAnalysis
      .bm25TopK(d, Seq("q_a" -> Seq("spark", "join")), 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    // doc0: spark(tf=1,df=2): (5·22·1·3·1e6) div (5·75)      = 880000
    //       join (tf=1,df=1): (7·22·1·3·1e6) div (3·75)      = 2053333
    // doc1: spark(tf=3,df=2): (5·22·3·3·1e6) div (5·135)     = 1466666
    assert(got == Seq((0L, 1, 2933333L), (1L, 2, 1466666L)))
  }

  test("bm25TopK respects topK and ranks multi-term matches first") {
    val d = docs(
      0L -> "spark join table",
      1L -> "spark table row",
      2L -> "join row scan",
      3L -> "scan batch line",
      4L -> "spark join scan")
    val got = TextAnalysis
      .bm25TopK(d, Seq("q" -> Seq("spark", "join")), 3)
      .collect()
    assert(got.length == 3)
    val byRank = got.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
    // docs 0 and 4 carry both terms, and tie exactly (same tf/len) →
    // doc_id breaks the tie; doc 1 or 2 (one term) fills rank 3
    assert(byRank.take(2) == Seq(0L, 4L))
  }

  test("tokens: empty and whitespace-only text yield empty arrays") {
    val got = docs(0L -> "", 1L -> "   ", 2L -> "  a  b ")
      .select(size(TextAnalysis.tokens(col("text"))))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 2))
  }

  test("languageId prefers the language with most marker words") {
    val got = docs(
      0L -> "the cat and the dog of the house",
      1L -> "der hund und die katze ist nicht da")
      .withColumn("lang", lit("xx"))
      .transform(TextAnalysis.languageId)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(0L -> "en", 1L -> "de"))
  }

  test("exactDuplicates groups by normalized text") {
    val got = Dedup.exactDuplicates(docs(
      0L -> "Hello  World", 1L -> "hello world", 2L -> "other text"))
    val byHash = got.collect().map(r =>
      r.getAs[Long]("rep_doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byHash == Map(0L -> 2L, 2L -> 1L))
  }

  test("dedupLines drops corpus-frequent boilerplate, preserves line order") {
    val got = Dedup.dedupLines(docs(
      0L -> "HEADER\nalpha body zero\nFOOTER",
      1L -> "HEADER\nbravo body one\nFOOTER",
      2L -> "HEADER\ncharlie body two\nFOOTER",
      3L -> "unique doc\nwith two lines",
      4L -> "HEADER\nFOOTER"), maxDf = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // HEADER/FOOTER appear in 4 docs > maxDf=2 → removed everywhere
    assert(got(0L) == ((3L, 2L, "alpha body zero")))
    assert(got(1L) == ((3L, 2L, "bravo body one")))
    // doc below the df threshold is untouched, order preserved
    assert(got(3L) == ((2L, 0L, "unique doc\nwith two lines")))
    // all-boilerplate doc empties out instead of disappearing
    assert(got(4L) == ((2L, 2L, "")))
  }

  test("jaccardPairs: identical docs score 1.0, disjoint docs absent") {
    val d = docs(
      0L -> "a b c d e f", 1L -> "a b c d e f", 2L -> "x y z w q v")
    val got = Dedup.jaccardPairs(d, 3, 0.5).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("doc_a") == 0L)
    assert(got.head.getAs[Long]("doc_b") == 1L)
    assert(got.head.getAs[Double]("jaccard") == 1.0)
  }

  test("minhashLshPairs finds identical docs via banded signatures") {
    val d = docs(
      0L -> "a b c d e f g h", 1L -> "a b c d e f g h", 2L -> "p q r s t u v w")
    val got = Dedup.minhashLshPairs(d, 3, 16, 4, 0.5).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
  }

  test("jaccardPairs maxDf prunes stop-shingles without losing real pairs") {
    // 40 docs share an identical boilerplate prefix (its shingles hit
    // df = 40+) but have unique tails; docs 100/101 are genuine near-dups.
    val boiler = "terms of service apply to all content on this site"
    val d = docs(
      ((0L until 40L).map(i => i -> s"$boiler unique tail number$i words$i") ++
        Seq(
          // tails long enough that the pruned jaccard (hot shingles out of
          // the intersection, full sizes in the denominator) stays >= 0.5
          100L -> (s"$boiler red fish blue fish one fish two fish three " +
            "fish four fish five fish six fish seven fish"),
          101L -> (s"$boiler red fish blue fish one fish two fish three " +
            "fish four fish five fish six fish seven fish extra"))): _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unpruned = pairSet(Dedup.jaccardPairs(d, 3, 0.5))
    val pruned = Dedup.jaccardPairs(d, 3, 0.5, maxDf = 10)
    // unpruned: the shared boilerplate alone pushes EVERY doc pair over
    // the threshold — the quadratic blowup the maxDf knob exists to stop
    // (~40²/2 bogus pairs from one df=42 shingle family)
    assert(unpruned.contains((100L, 101L)))
    assert(unpruned.size > 500)
    // pruned: hot shingles (df > 10) carry no dedup signal and are
    // dropped; only the genuinely near-identical pair survives
    assert(pairSet(pruned) == Set((100L, 101L)))
    assert(pruned.collect().head.getAs[Double]("jaccard") >= 0.5)
  }

  test("dedup pair queries are invariant to input partitioning") {
    // partitioning must never change results: pair sets, jaccard values,
    // and signatures are all aggregate/join outputs with no order terms
    val d = (0L until 60L).map { i =>
      val fam = i % 5
      i -> (s"fam $fam shared words ${"w" * (1 + (i % 3).toInt)} " +
        s"${('a' + fam).toChar} b c d e f g extra$i")
    }
    val base = docs(d: _*)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(canon(Dedup.jaccardPairs(base.repartition(7), 3, 0.3)) ==
      canon(Dedup.jaccardPairs(base, 3, 0.3)))
    assert(canon(Dedup.minhashSignatures(base.repartition(11), 3, 16)) ==
      canon(Dedup.minhashSignatures(base, 3, 16)))
    assert(canon(Dedup.minhashLshPairs(base.repartition(5), 3, 16, 4, 0.3)) ==
      canon(Dedup.minhashLshPairs(base, 3, 16, 4, 0.3)))
  }

  test("nearDupClusters merges transitive chains to the min doc_id") {
    // 0≈1 and 1≈2 but 0 and 2 share little; 5≈6 separately
    val d = docs(
      0L -> "a b c d e f g h i j",
      1L -> "a b c d e f x y z w",
      2L -> "c d e f x y z w q r",
      5L -> "m n o p m n o p m n",
      6L -> "m n o p m n o p m n",
      9L -> "lone words without any pair here")
    val got = graft.operators.Dedup.nearDupClusters(d, 3, 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L))
  }

  test("nearDupClusters labels every doc of a 60-doc chain (diameter 59) " +
      "with the chain's minimum") {
    // doc i = w_i … w_{i+9}: neighbours share 7 of 8 3-shingles (Jaccard
    // 7/9), docs two apart 6 (6/10), so at 0.7 the pair graph is a path
    // of diameter 59 — deeper than any fixed round cap would reach
    val d = docs((0L until 60L).map(i =>
      i -> (i until i + 10).map(j => s"w$j").mkString(" ")): _*)
    val got = Dedup.nearDupClusters(d, 3, 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 60)
    assert(got.toMap == (0L until 60L).map(_ -> 0L).toMap)
  }

  test("nearDupClusters takes the star rounds past one partition's edge " +
      "budget and labels every doc the same way") {
    // 451 copies of one 3-shingle doc: C(451, 2) = 101,475 pairs, above
    // the 100k edges the driver-side union-find accepts
    val d = docs((0L to 450L).map(_ -> "x y z") ++
      Seq(1000L -> "p q r s", 1001L -> "p q r s", 2000L -> "lone doc"): _*)
    assert(Dedup.jaccardPairs(d, 3, 0.5).count() == 101476L)
    val got = Dedup.nearDupClusters(d, 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 453)
    assert(got.toMap ==
      ((0L to 450L).map(_ -> 0L) ++ Seq(1000L -> 1000L, 1001L -> 1000L)).toMap)
  }

  test("domainMixture: over-represented sources downsample toward the " +
      "per-source allowance, small ones keep everything") {
    // source a: 30 tokens, source b: 6 tokens; budget 20 over 2 sources
    // -> allowance 10: rate_a = 10/30, rate_b = 1.0
    val d = Seq(
      (0L, "w w w w w w w w w w w w w w w", "a"),
      (1L, "w w w w w w w w w w w w w w w", "a"),
      (2L, "x x x x x x", "b"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.domainMixture(d, 20L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == ((2L, 30L, 0.833333, 0.333333)))
    assert(got("b") == ((1L, 6L, 0.166667, 1.0)))
  }

  test("negativeSamples: deterministic draws, no self-pairs, k per doc " +
      "minus self-collisions") {
    val d = (0L until 20L).map(i => (i, s"doc $i", "s"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.negativeSamples(d, 4, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall { case (d0, _, n) => d0 != n })
    // every (doc, j) draw appears at most once and at most k=4 per doc
    val perDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perDoc.values.forall(n => n >= 1 && n <= 4))
    assert(got.distinct.length == got.length)
    // deterministic under repartitioning
    val re = TextAnalysis.negativeSamples(d.repartition(5), 4, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(re.sorted.toSeq == got.sorted.toSeq)
  }

  test("lmCoverage separates fluent repetition from gibberish; " +
      "short docs score 0") {
    // "the cat sat" repeated across docs 0-2 makes those bigrams pass
    // minCount=3; doc 3 is one-off gibberish (every bigram unique);
    // doc 4 has < 2 tokens (no bigram evidence)
    val d = docs(
      0L -> "the cat sat on the mat",
      1L -> "the cat sat on the rug",
      2L -> "the cat sat on the bed",
      3L -> "zq xv qp wk jm vn",
      4L -> "hi")
    val got = TextAnalysis.lmCoverage(d, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // docs 0-2: bigrams "the cat","cat sat","sat on","on the" hit 3 times
    // each; the last bigram ("the mat"/...) is unique per doc -> 4/5
    assert(got(0L) == ((5L, 4L, 0.8)))
    assert(got(1L) == ((5L, 4L, 0.8)))
    assert(got(2L) == ((5L, 4L, 0.8)))
    assert(got(3L) == ((5L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("connectedComponents (large-star/small-star) matches union-find " +
      "on deep and branchy graphs") {
    // Deep paths (diameters 39 and 99 — the case propagation is slow
    // on), a star, a triangle with a pendant, and isolated-pair
    // components.
    val edges: Seq[(Long, Long)] =
      (1L until 40L).map(i => i -> (i + 1)) ++          // path 1..40
        (1000L until 1099L).map(i => (i + 1) -> i) ++    // path 1000..1099
        Seq(100L -> 101L, 100L -> 102L, 100L -> 103L) ++ // star
        Seq(200L -> 201L, 201L -> 202L, 202L -> 200L, 202L -> 203L) ++
        Seq(300L -> 301L, 400L -> 401L)
    val want = unionFindRoots(edges)
    val got = Dedup.connectedComponents(edges.toDF("u", "v").repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // one (node, root) row per node, roots labeled by themselves
    assert(got.length == want.size)
    assert(got.toMap == want)
  }

  test("connectedComponents Φ-convergence never stops early: random " +
      "graphs match union-find") {
    // The r13 convergence test compares (|E|, Σ hi+lo) between rounds
    // instead of running an anti-join (proof in connectedComponents).
    // The failure mode a bug there would produce is PREMATURE
    // convergence — a non-fixpoint edge set colliding with its
    // predecessor's potential — so hammer it with seeded random graphs
    // (dense, sparse, and multi-component) against local union-find.
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 8) {
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(60)
      val edges: Seq[(Long, Long)] = (1 to nEdges).flatMap { _ =>
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        if (a == b) None else Some(a -> b)
      }
      if (edges.nonEmpty) {
        val want = unionFindRoots(edges)
        val got = Dedup.connectedComponents(edges.toDF("u", "v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        assert(got.length == want.size && got.toMap == want,
          s"trial $trial (${edges.size} edges): got ${got.toSeq} want $want")
      }
    }
  }

  test("connectedComponents agrees with nearDupClusters") {
    // nearDupClusters takes the union-find path on a graph this small;
    // connectedComponents always runs the star rounds — same labels
    val d = docs(
      0L -> "a b c d e f g h i j",
      1L -> "a b c d e f x y z w",
      2L -> "c d e f x y z w q r",
      5L -> "m n o p m n o p m n",
      6L -> "m n o p m n o p m n",
      9L -> "lone words without any pair here")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val pairs = Dedup.jaccardPairs(d, 3, 0.3)
      .select(col("doc_a"), col("doc_b"))
    assert(canon(Dedup.connectedComponents(pairs)) ==
      canon(Dedup.nearDupClusters(d, 3, 0.3)))
  }

  test("winnowFingerprints: shared runs collide, short docs covered, invariant") {
    val d = docs(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "intro words alpha beta gamma delta epsilon zeta eta theta",
      2L -> "completely different content with no overlap at all",
      3L -> "tiny") // shorter than k tokens -> whole text is the one gram
    val fp = TextAnalysis.winnowFingerprints(d, 3, 4)
    val byDoc = fp.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: any shared run of >= w+k-1 = 6 tokens shares a
    // fingerprint — docs 0 and 1 share an 8-token run
    assert((byDoc(0L) & byDoc(1L)).nonEmpty)
    assert((byDoc(0L) & byDoc(2L)).isEmpty)
    assert(byDoc(3L).size == 1)
    // density: far fewer fingerprints than grams
    assert(byDoc(0L).size <= 6)
    val again = TextAnalysis.winnowFingerprints(d.repartition(5), 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(again == fp.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("scrubPii masks mixed-case emails, phones, and digit runs") {
    val d = docs(
      0L -> "contact John.Doe@Example.COM or UPPER@HOST.ORG today",
      1L -> "call +1 (555) 123-4567 now",
      2L -> "order 12345 shipped, ref 987",
      3L -> "plain text with the number 42 stays")
    val got = d.select(col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "contact <email> or <email> today")
    assert(got(1L) == "call <phone> now")
    assert(got(2L) == "order <id> shipped, ref 987")
    assert(got(3L) == "plain text with the number 42 stays")
  }

  test("repetitionStats: looped text scores high, varied text zero") {
    val d = docs(
      0L -> "buy now buy now buy now buy now", // 2-grams: 7 total, 2 distinct
      1L -> "one two three four five",         // all distinct
      2L -> "hi")                              // too short for any 2-gram
    val got = d.transform(TextAnalysis.repetitionStats)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)), (r.getLong(3), r.getDouble(4)))).toMap
    assert(got(0L)._1._1 == 7L)
    assert(math.abs(got(0L)._1._2 - (1.0 - 2.0 / 7.0)) < 1e-6)
    assert(got(1L) == ((4L, 0.0), (3L, 0.0)))
    assert(got(2L) == ((0L, 0.0), (0L, 0.0)))
  }

  test("packSequences chunks a per-shard stream at the token budget") {
    // single lang, force one shard so the running sum is a single stream
    val d = docs(
      1L -> "a b c d", 2L -> "e f g", 3L -> "h i", 4L -> "j k l m n")
      .withColumn("lang", lit("en"))
    // budget 5: cum starts per doc at 0,4,7,9 -> seq 0,0,1,1
    val got = TextAnalysis.packSequences(d, budgetTokens = 5, nShards = 1)
      .collect().map(r => r.getLong(2) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(0L -> ((2L, 7L)), 1L -> ((2L, 7L))))
  }

  test("packSequences is deterministic across input partitionings") {
    val base = (1L to 200L).map(i => i -> s"word token text number $i")
    val d1 = docs(base: _*).withColumn("lang", lit("en"))
    val d2 = docs(scala.util.Random.shuffle(base): _*)
      .repartition(7).withColumn("lang", lit("en"))
    val a = TextAnalysis.packSequences(d1, 64, 4).collect()
      .map(_.toSeq).toSet
    val b = TextAnalysis.packSequences(d2, 64, 4).collect()
      .map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("bigramCollocations computes lift with a min-count floor") {
    val d = docs(0L -> "a b", 1L -> "a b", 2L -> "a c")
    // bigrams: "a b"x2, "a c"x1; N=3; c(a)=3, c(b)=2
    // minCount=2 keeps only "a b": lift = 3*2/(3*2) = 1.0
    val got = TextAnalysis.bigramCollocations(d, minCount = 2, topK = 5)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", "b", 2L, 1.0)))
  }

  test("contaminationPairs flags n-gram overlap with the benchmark side") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely unrelated words about gardening tools here",
      3L -> "the quick brown fox sat still") // shares 2 3-grams with bench
    val bench = docs(
      100L -> "the quick brown fox jumps high")
    val got = Dedup.contaminationPairs(corpus, bench, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps"
    assert(got((1L, 100L)) == 3L)
    // doc 3 shares "the quick brown", "quick brown fox" (exactly at threshold)
    assert(got((3L, 100L)) == 2L)
    assert(!got.contains((2L, 100L)))
  }

  test("tfidfTopTerms ranks rare terms first with deterministic tie-break") {
    val d = docs(
      0L -> "apple apple banana",
      1L -> "banana cherry",
      2L -> "banana banana banana")
    // df: apple 1, banana 3, cherry 1; N = 3
    // doc 0: apple raw = 2*(3/2)=3.0, banana raw = 1*(3/4)=0.75
    // doc 1: cherry raw = 1*(3/2)=1.5, banana raw = 0.75
    val got = TextAnalysis.tfidfTopTerms(d, 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getString(1), r.getDouble(5))).toMap
    assert(got((0L, 1)) == ("apple", 3.0))
    assert(got((0L, 2)) == ("banana", 0.75))
    assert(got((1L, 1)) == ("cherry", 1.5))
    assert(got((1L, 2)) == ("banana", 0.75))
    assert(got((2L, 1)) == ("banana", 2.25))
    // tie-break: equal raw scores order by term ascending
    val tied = TextAnalysis.tfidfTopTerms(docs(7L -> "zed abc"), 2)
      .collect().map(r => r.getInt(4) -> r.getString(1)).toMap
    assert(tied == Map(1 -> "abc", 2 -> "zed"))
  }

  test("stratifiedSample respects rate boundaries and is deterministic") {
    val d = (0L until 200L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    def ids(rates: Map[String, Int], default: Int) =
      TextAnalysis.stratifiedSample(d, rates, default)
        .collect().map(_.getLong(0)).toSet
    // rate 0 keeps nothing of that language; rate 100 keeps everything
    assert(ids(Map("en" -> 0), 100) ==
      (0L until 200L).filter(_ % 2 == 1).toSet)
    assert(ids(Map.empty, 100) == (0L until 200L).toSet)
    // downsampling strictly shrinks, keeps a nonempty subset, and the
    // kept set is stable across partitionings (hash-determined, no RNG)
    val half = ids(Map("en" -> 50), 100)
    assert(half.size < 200 && half.count(_ % 2 == 0) > 0)
    val again = TextAnalysis.stratifiedSample(d.repartition(7),
        Map("en" -> 50), 100)
      .collect().map(_.getLong(0)).toSet
    assert(again == half)
  }

  test("quotaSample: exact quota per stratum in md5 order, invariant " +
    "to partitioning") {
    val d = (0L until 300L).map(i =>
      (i, s"text $i", "en",
        // skewed strata: one stratum holds 80% of the corpus
        if (i < 240) "big" else s"s${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.quotaSample(d, 10).collect()
    // exact quota: min(|stratum|, cap) rows per stratum, pos = 1..quota
    val byStratum = out.groupBy(_.getString(0))
    assert(byStratum("big").length == 10)
    for ((_, rows) <- byStratum) {
      assert(rows.map(_.getLong(1)).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
    // selection follows md5 order: the kept set is the cap-smallest
    // hashes per stratum, computed independently on the driver
    val expectBig = (0L until 240L)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, i))
      .take(10).toSet
    assert(byStratum("big").map(_.getLong(2)).toSet == expectBig)
    // deterministic under any physical partitioning
    val again = TextAnalysis.quotaSample(d.repartition(7), 10).collect()
    assert(again.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("tokenBudgetSample: two-level prefix sum equals the naive " +
    "per-stratum cumsum, true prefix, invariant to partitioning") {
    val d = (0L until 100L).map(i =>
      (i, ("w " * (i % 7 + 1).toInt).trim, "en",
        if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "lang", "source")
    val budget = 50L
    val out = TextAnalysis.tokenBudgetSample(d, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver-side reference: naive global cumsum in (md5, id) order
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = (0L until 100L).groupBy(i => if (i % 2 == 0) "a" else "b")
      .flatMap { case (src, ids) =>
        var cum = 0L
        ids.sortBy(i => (h(i), i)).flatMap { i =>
          cum += i % 7 + 1
          if (cum <= budget) Some((src, i, i % 7 + 1, cum)) else None
        }
      }.toSet
    assert(out.toSet == expect)
    // a true prefix: within each stratum cum_tok is strictly the
    // running total of the kept docs in hash order
    for ((_, rows) <- out.groupBy(_._1)) {
      val sorted = rows.sortBy(r => (h(r._2), r._2))
      assert(sorted.map(_._3).scanLeft(0L)(_ + _).tail.toSeq ==
        sorted.map(_._4).toSeq)
    }
    val again = TextAnalysis.tokenBudgetSample(d.repartition(7), budget)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == expect)
  }

  test("ppsSampleSystematic: one pick per step of token mass, " +
    "P(select) proportional to size, zero-token docs never picked") {
    val d = (0L until 120L).map(i =>
      (i, if (i % 11 == 0) "" else ("w " * (i % 7 + 1).toInt).trim,
        "en", "a")).toDF("doc_id", "text", "lang", "source")
    val step = 9L
    val out = TextAnalysis.ppsSampleSystematic(d, step).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // driver reference over the same md5 walk
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cum = 0L
    val expect = (0L until 120L).sortBy(i => (h(i), i)).flatMap { i =>
      val nt = if (i % 11 == 0) 0L else i % 7 + 1
      val before = cum; cum += nt
      val picks = cum / step - before / step
      if (picks > 0) Some((i, nt, cum, picks)) else None
    }
    assert(out.toSet == expect.toSet)
    // systematic invariant: pick MASS is exactly floor(total/step)
    // (docs wider than the step carry multiplicity), zero-token docs
    // never picked
    assert(out.map(_._4).sum == cum / step)
    assert(out.forall(_._2 > 0))
    val again = TextAnalysis.ppsSampleSystematic(d.repartition(5), step)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.toSet == out.toSet)
  }

  test("fuzzyMatchPairsQgram equals the all-pairs brute force at " +
    "sf0.001 and catches space-moving edits the banded block cannot") {
    // exact recall vs the unblocked ground truth on real data
    val parts = Tables.table(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
    val got = Analytics.fuzzyMatchPairsQgram(parts, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = parts.toDF("id_a", "name_a")
      .crossJoin(parts.toDF("id_b", "name_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b"), 2).cast("long").as("d"))
      .filter(col("d") >= 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"qgram-only=${got -- brute}, brute-only=${brute -- got}")
    // the documented failure mode of the positional token block: two
    // space edits merge one token and split another — every banded
    // token position disagrees, but the q-gram prefixes still collide
    val adv = Seq((1L, "ab cd ef gh ij"), (2L, "abcd ef g h ij"),
      (3L, "zz yy xx ww vv")).toDF("id", "name")
    val advPairs = Analytics.fuzzyMatchPairsQgram(adv, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(advPairs == Set((1L, 2L)),
      s"space-shift pair must survive the position-free block: $advPairs")
    // short names have <= maxDist*q distinct grams, so the prefix
    // theorem is vacuous ('ab' vs 'cd' share NO padded 3-gram at
    // distance 2) — the length-banded low-gram fallback must pair them
    val short = Seq((1L, "ab"), (2L, "cd"), (3L, "abcdefghijklmnop"))
      .toDF("id", "name")
    val shortPairs = Analytics.fuzzyMatchPairsQgram(short, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shortPairs == Set((1L, 2L)),
      s"low-gram fallback must recover the short pair: $shortPairs")
  }

  test("fuzzyMatchPairsQgram maxBlockSize drops mega-blocks only: " +
    "rare-gram and fallback pairs survive, a roomy cap is a no-op") {
    // a 12-member near-identical family: every pair is a true match at
    // distance 1, and the members' shared grams form df=12 mega-blocks —
    // the closed-vocabulary degeneration in miniature (each member also
    // carries 3 unique grams, but those blocks are singletons and pair
    // with nothing)
    val fam = ('a' to 'l').zipWithIndex.map { case (c, i) =>
      (i.toLong, s"commonfamilyname $c") }
    // a diverse pair at distance 2: every shared gram has df=2
    val rare = Seq((100L, "qqqrstuvw"), (101L, "qqqrstuvwxy"))
    // a short pair served by the length-keyed low-gram fallback, which
    // the gram-keyed cap must never touch
    val short = Seq((200L, "ab"), (201L, "cd"))
    val recs = (fam ++ rare ++ short).toDF("id", "name")
    def pairs(cap: Int) =
      Analytics.fuzzyMatchPairsQgram(recs, 2, 3, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Int.MaxValue)
    val famPairs = (for { i <- 0 until 12; j <- (i + 1) until 12 }
      yield (i.toLong, j.toLong)).toSet
    assert(uncapped == famPairs + ((100L, 101L)) + ((200L, 201L)),
      s"uncapped: $uncapped")
    // cap 11 (< family size): the family's mega-blocks drop and with
    // them the 66 family pairs — exactly the documented recall trade;
    // the rare-gram pair (blocks of 2) and the fallback pair survive
    val capped = pairs(11)
    assert(capped == Set((100L, 101L), (200L, 201L)), s"capped: $capped")
    assert(capped.subsetOf(uncapped))
    // a cap at least the largest block restores exact semantics
    assert(pairs(12) == uncapped)
  }

  test("corpusDiff classifies added, removed, changed; unchanged emit " +
    "nothing") {
    val oldC = docs(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val newC = docs(2L -> "beta", 3L -> "gamma EDITED", 4L -> "delta")
    val diff = Dedup.corpusDiff(oldC, newC).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((1L, "removed"), (3L, "changed"), (4L, "added")))
    // identical snapshots → empty diff (churn-sized output)
    assert(Dedup.corpusDiff(oldC, oldC).isEmpty)
  }

  test("corpusDiff NULL-text docs: presence is by membership, change " +
    "compare is null-safe") {
    // md5(NULL) is NULL — presence classified off fingerprint nullness
    // would misreport a NULL-text doc present in both snapshots as
    // 'added'. Doc 1: NULL in both = unchanged (nothing). Doc 2:
    // NULL -> text = changed. Doc 3: text -> NULL = changed. Doc 4:
    // NULL text only in old = removed.
    val oldC = Seq[(Long, Option[String])](1L -> None, 2L -> None,
      3L -> Some("x"), 4L -> None).toDF("doc_id", "text")
    val newC = Seq[(Long, Option[String])](1L -> None, 2L -> Some("y"),
      3L -> None).toDF("doc_id", "text")
    val diff = Dedup.corpusDiff(oldC, newC).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (3L, "changed"), (4L, "removed")),
      s"got $diff")
  }

  test("dedupLines keeps a NULL-text doc as one empty-text row instead " +
    "of dropping it") {
    // posexplode(split(NULL)) emits zero rows — without the coalesce
    // the doc would vanish from the per-doc output entirely
    val got = Dedup.dedupLines(Seq[(Long, Option[String])](
        1L -> Some("a\nb"), 2L -> None).toDF("doc_id", "text"), maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L), s"doc rows: $got")
    assert(got(1)._2 == 1L && got(1)._3 == "", s"null-text doc row: $got")
  }

  test("minhash banding rejects a rowsPerBand that is not a positive " +
    "divisor of k (a partial band would silently change the geometry)") {
    val d = docs(1L -> "a b c", 2L -> "a b c")
    assertThrows[IllegalArgumentException](
      Dedup.minhashLshPairs(d, k = 16, rowsPerBand = 5).collect())
    assertThrows[IllegalArgumentException](
      Dedup.minhashLshPairs(d, k = 16, rowsPerBand = 0).collect())
    assertThrows[IllegalArgumentException](
      Dedup.minhashLshPairs(d, k = 16, rowsPerBand = 32).collect())
  }

  test("fuzzyMatchPairs maxBucketSize bounds the deletion-variant " +
    "buckets; rare-variant pairs survive and precision stays exact") {
    // a serial-code family: 8 distinct 2-char-ish low-token names all
    // within 1 deletion of shared variants (big buckets), plus one
    // isolated pair — capping at 4 must drop only big-bucket-only pairs
    val recs = ((1 to 8).map(i => (i.toLong, s"a$i")) ++
      Seq((21L, "zz91"), (22L, "zz19")))
      .toDF("p_partkey", "p_name")
      .select(lit("B").as("p_brand"), col("p_partkey"), col("p_name"))
    def pairs(cap: Int) =
      Analytics.fuzzyMatchPairs(recs, 2, 3, cap)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(4)
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((21L, 22L)),
      s"rare-bucket pair must survive the cap: $capped")
    assert(uncapped.size > capped.size,
      s"the cap must drop mega-bucket-only pairs: $uncapped vs $capped")
    assertThrows[IllegalArgumentException](pairs(1))
  }

  test("normText/fingerprint agree across engines on vertical tab " +
    "(Java \\s includes U+000B, RE2's does not — explicit class now)") {
    // the Spark side must KEEP U+000B verbatim like DuckDB's RE2 \s
    // would — only [ \t\n\f\r]+ collapses
    val got = TextAnalysis.normText(lit("a\u000bb  c\td")).cast("string")
    val out = spark.range(1).select(got.as("n")).head().getString(0)
    assert(out == "a\u000bb c d", s"got '$out'")
  }

  test("sequence-reverse guards: k=0 / epochs=0 / saltFactor=0 fail " +
    "loudly instead of emitting phantom rows or empty joins") {
    val d = docs(1L -> "a b c")
    assertThrows[IllegalArgumentException](
      TextAnalysis.negativeSamples(d, k = 0))
    assertThrows[IllegalArgumentException](
      TextAnalysis.epochShuffle(d, epochs = 0))
    assertThrows[IllegalArgumentException](
      Analytics.saltedJoin(d, d, "doc_id", saltFactor = 0))
  }

  test("vocabEncode keeps zero-token docs (n_tokens 0, empty ids) and " +
    "languageId predicts NULL for NULL text") {
    val enc = TextAnalysis.vocabEncode(Seq[(Long, Option[String])](
        1L -> Some("a a a b"), 2L -> Some("   "), 3L -> None)
        .toDF("doc_id", "text"), minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(enc.map(_._1) == Seq(1L, 2L, 3L), s"every doc must emit: $enc")
    assert(enc(1) == ((2L, 0L, "")) && enc(2) == ((3L, 0L, "")),
      s"zero-token docs must encode empty: $enc")
    val lid = TextAnalysis.languageId(Seq[(Long, Option[String], String)](
        (1L, Some("the cat and the dog of it"), "en"), (2L, None, "en"))
        .toDF("doc_id", "text", "lang"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(lid(1L) == "en" && lid(2L) == null, s"got $lid")
  }

  test("srpLshNearDupPairs tolerates NULL embeddings (skipped, not an " +
    "NPE at the dim probe)") {
    val emb = Seq[(Long, Option[Seq[Float]])](
      1L -> None,
      2L -> Some(Seq(1f, 0f, 0f, 0f)),
      3L -> Some(Seq(1f, 0.001f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.srpLshNearDupPairs(emb, 8, 4, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)), s"got $pairs")
  }

  test("SimHash64.compute matches an independent md5 reference") {
    def refHash(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      BigInt(d.take(8).map(b => f"$b%02x").mkString, 16).toLong >>> 4
    }
    def refSimhash(tokens: Seq[String]): Long = {
      val votes = Array.fill(60)(0)
      tokens.foreach { t =>
        val h = refHash(t)
        (0 until 60).foreach { b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        }
      }
      (0 until 60).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val toks = Seq("spark", "query", "engine", "spark")
    val got = docs(0L -> toks.mkString(" "))
      .transform(Dedup.simhashFingerprints)
      .collect().head.getLong(1)
    assert(got == refSimhash(toks))
  }

  test("simhashNearDupPairs: identical docs at hamming 0") {
    val d = docs(
      0L -> "one two three four five six",
      1L -> "one two three four five six",
      2L -> "alpha beta gamma delta eps zeta")
    val got = Dedup.simhashNearDupPairs(d, 3, 4, 15).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").longValue)).toSeq
      == Seq((0L, 1L, 0L)))
  }

  test("cosine: identity 1, orthogonal 0 (exact decimal accumulation)") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("id", "a", "b")
      .select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(df(0L) - 1.0) < 1e-12)
    assert(math.abs(df(1L)) < 1e-12)
  }

  test("labelCentroids averages components; kmeansAssign picks nearest") {
    // label 0: (1,0) and (0.5,0) -> centroid (0.75, 0)
    // label 1: (0,1) and (0,0.5) -> centroid (0, 0.75)
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.5f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.0f, 0.5f), 1),
      (4L, Array(0.9f, 0.1f), 1)) // mislabeled: closer to centroid 0
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.labelCentroids(e).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(cents((0, 0L)) == 0.75 && cents((0, 1L)) == 0.0)
    assert(math.abs(cents((1, 0L)) - 0.3) < 1e-9) // (0+0+0.9)/3
    val assigned = Similarity.kmeansAssign(e).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned(0L) == 0 && assigned(1L) == 0)
    assert(assigned(4L) == 0, "mislabeled vector must reassign to label 0")
  }

  test("annTopK ranks by cosine and is invariant to partitioning") {
    // queries: ids 0,1; corpus 2..5 with known alignment to query 0 = (1,0)
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(0.0f, 1.0f), 9),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.5f, 0.5f), 1),
      (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(-1.0f, 0.0f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val expect = Map((0L, 1) -> 2L, (0L, 2) -> 3L, (0L, 3) -> 4L, (0L, 4) -> 5L,
      (1L, 1) -> 4L, (1L, 2) -> 3L, (1L, 3) -> 2L, (1L, 4) -> 5L)
    for (p <- Seq(1, 4)) {
      val got = Similarity.annTopK(df.repartition(p), 2, 4)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      assert(got == expect, s"partitions=$p")
    }
  }

  test("annTopKIvf returns the true nearest neighbor for aligned vectors") {
    val rows = Seq(
      (0L, Array.fill(8)(0.5f) ++ Array.fill(56)(0.1f), 9),
      (2L, Array.fill(8)(0.5f) ++ Array.fill(56)(0.1f), 1),
      (3L, Array.fill(8)(-0.5f) ++ Array.fill(56)(0.1f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.annTopKIvf(df, 1, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 2L)))
  }

  test("invertedIndex: sorted postings, stop word capped to empty string") {
    val df = docs(
      3L -> "alpha beta", 1L -> "beta gamma", 2L -> "beta alpha alpha")
    val got = TextAnalysis.invertedIndex(df, maxDf = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got == Seq(
      ("alpha", 2L, "2,3"),   // df within cap → sorted doc ids
      ("beta", 3L, ""),       // df 3 > cap 2 → exact df, empty postings
      ("gamma", 1L, "1")))
  }

  test("epochShuffle: complete permutation per epoch, epochs differ, reruns identical") {
    val df = docs((1L to 40L).map(i => i -> s"doc $i"): _*)
    def run() = TextAnalysis.epochShuffle(df, epochs = 2, nShards = 4)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val out = run()
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(0, 1))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._4).toSet == (1L to 40L).toSet) // every doc once
      rows.groupBy(_._2).values.foreach { shard => // positions dense in shard
        assert(shard.map(_._3).sorted.toSeq == (1 to shard.length).toSeq)
      }
    }
    val order = (e: Int) => byEpoch(e).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(order(0) != order(1), "epochs must be different permutations")
    assert(run().toSeq == out.toSeq, "shuffle must be rerun-deterministic")
  }

  test("duplicateSpans merges overlapping duplicated shingles into maximal spans") {
    // docs 1 and 2 share the 7-token run "a b c d e f g" (3 overlapping
    // 5-shingles each → ONE maximal span of 7 tokens); doc 3 is unique
    val df = docs(
      1L -> "a b c d e f g x1 y1 z1",
      2L -> "p2 q2 a b c d e f g r2",
      3L -> "u3 v3 w3 x3 y3 z3 s3 t3")
    val got = Dedup.duplicateSpans(df, k = 5, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0, 6, 7),   // tokens 0-6 = the shared run
      (2L, 2, 8, 7)))  // same run shifted by the "p2 q2" prefix
  }

  test("vocabEncode ranks by count desc then token, OOV maps to 0") {
    // counts: aa×4, bb×3, cc×2, dd×1 → vocab(minCount=2): aa=1 bb=2 cc=3
    val df = docs(
      1L -> "aa bb aa",
      2L -> "bb cc aa",
      3L -> "aa bb cc dd")
    val got = TextAnalysis.vocabEncode(df, minCount = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 0L, "1 2 1"),
      (2L, 3L, 0L, "2 3 1"),
      (3L, 4L, 1L, "1 2 3 0"))) // dd below minCount → unk id 0
  }

  test("chunkDocuments: strided windows, truncated tail, empty doc → none") {
    val df = docs(1L -> "a b c d e f g h i j", 2L -> "   ")
    val got = TextAnalysis.chunkDocuments(df, size = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // stride 3 → starts 0,3,6,9; overlap token shared between neighbors;
    // start=9 leaves only "j" (10−9 = 1 ≤ overlap), fully contained in
    // the previous chunk "g h i j" → dropped; whitespace-only doc vanishes
    assert(got == Seq(
      (1L, 0L, 0L, 4L, "a b c d"),
      (1L, 1L, 3L, 4L, "d e f g"),
      (1L, 2L, 6L, 4L, "g h i j")))
  }

  test("chunkDocuments keeps a truncated tail that adds new tokens") {
    // 11 tokens: start=9 leaves "j k" (11−9 = 2 > overlap 1) — token k is
    // new, so the truncated tail chunk must survive the redundancy filter
    val df = docs(1L -> "a b c d e f g h i j k")
    val got = TextAnalysis.chunkDocuments(df, size = 4, overlap = 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 0L, 4L, "a b c d"),
      (1L, 3L, 4L, "d e f g"),
      (2L, 6L, 4L, "g h i j"),
      (3L, 9L, 2L, "j k")))
  }

  test("dsirWeights: target-like docs outweigh off-target; no-bigram doc " +
    "scores 0") {
    val df = Seq(
      (1L, "x y x y x y", "en"), // every bigram in the target slice
      (2L, "x y x y", "en"),
      (3L, "p q p q p q", "de"), // bigrams absent from the target slice
      (4L, "solo", "de"))        // < 2 tokens → no bigram
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirWeights(df, "en", 256).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val w = got.map(t => t._1 -> t._3).toMap
    // doc 1's bigrams occur ONLY in the target slice → every bucket ratio
    // is (c+1)/(c+1) = 1.0 → mean exactly 1e6 micros (no hash collisions
    // among these 4 bigrams — deterministic md5, verified by this run)
    assert(w(1L) == 1000000L && w(2L) == 1000000L)
    assert(w(3L) < w(1L), "off-target doc must weigh less")
    assert(got.find(_._1 == 4L).get == ((4L, 0L, 0L)))
  }

  test("semanticDedup drops higher-id near-dups within a cell, keeps " +
    "cell representatives") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0), // ~cos 0.99995 to vec 0, same cell
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.01f, 0.99f), 1)) // near-dup of vec 2
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(e, 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(0L) == ((0, 1L)) && got(2L) == ((1, 1L)), "lowest ids kept")
    assert(got(1L) == ((0, 0L)) && got(3L) == ((1, 0L)), "near-dups dropped")
  }

  test("semanticDedup keeps degenerate zero-norm vectors (cosine NaN " +
    "must not satisfy the threshold)") {
    // two all-zero vectors land in the same cell and their cosine is
    // 0/0 = NaN; Spark orders NaN above every double, so an unguarded
    // `sim >= minSim` silently drops one while DuckDB's NULL does not —
    // the guard must keep BOTH (a zero vector has no direction, it is
    // a duplicate of nothing)
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(e, 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept == Map(0L -> 1L, 1L -> 1L, 2L -> 1L),
      s"zero-norm vectors must all be kept, got $kept")
  }

  test("zero-norm corpus vectors rank LAST in every ANN probe path, " +
    "never first via NaN ordering") {
    // vec 3 is all-zero: unguarded 0/0 = NaN sorts above every double
    // in Spark, which would put the degenerate vector at rank 1 of
    // every query; the convention defines its sim as 0, so with
    // positive-sim true neighbors present it must rank below them
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.8f, 0.2f, 0.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val brute = Similarity.annTopK(e, 1, 3).collect()
      .sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getDouble(3)))
    assert(brute.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"zero vector must rank last by sim 0, got ${brute.toSeq}")
    assert(brute.last._2 == 0.0, "defined-as-zero sim must be emitted")
    // same convention through the stored-layout probe (the path the
    // incremental append makes reachable for degenerate input)
    val dir = java.nio.file.Files.createTempDirectory("ivf_zn").toString
    try {
      Similarity.writeCellPartitioned(e.filter(col("vec_id") < 3), dir)
      Similarity.appendToCellLayout(spark, dir,
        e.filter(col("vec_id") === 3))
      val layout = Similarity.annTopKFromLayout(spark, dir, 1, 3,
        nprobe = 2).collect()
        .sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      assert(layout == Seq(1L, 2L, 3L),
        s"layout probe must apply the zero-norm convention, got $layout")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("mergeCorpusDay classifies a day's delta against stored state and " +
    "agrees with the full recompute") {
    // 20-token base text; the near-dup swaps only the last token
    // (3-shingle Jaccard = 17/19 ≈ 0.89, comfortably above 0.5 and
    // band-colliding under the 16/4 family on these deterministic
    // hashes), the exact dup is byte-identical after normalization
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra"
    val existing = docs(
      0L -> (base + " tango"),
      2L -> "completely different text about spark engines and scale out",
      4L -> "a third unrelated document mentioning nothing shared at all")
    val delta = docs(
      10L -> ("  " + base + " TANGO "), // exact after normText
      15L -> (base + " zulu"),          // near-dup of doc 0
      20L -> "entirely novel content appearing for the very first time")
    val state = Dedup.corpusDedupState(existing)
    val got = Dedup.mergeCorpusDay(state, delta, minJaccard = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(got(10L) == (("exact_dup", 0L)), s"got $got")
    assert(got(15L) == (("near_dup", 0L)), s"got $got")
    assert(got(20L) == (("new", -1L)), s"got $got")
    // incremental ≡ full recompute: the union-wide LSH pass restricted
    // to cross-side pairs finds exactly the delta docs the merge matched
    val fullCross = Dedup
      .minhashLshPairs(existing.union(delta), 3, 16, 4, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 10) != (b < 10) }
      .map { case (a, b) => math.max(a, b) }.toSet
    val matched = got.filter(_._2._1 != "new").keySet
    assert(fullCross == matched,
      s"full recompute cross-side matches $fullCross must equal " +
        s"incremental matches $matched")
  }

  test("dedupKeepBest keeps the highest-quality cluster member, not the " +
    "lowest id; singletons always kept") {
    // docs 1 and 2 share 5 of 7 3-shingles (J ≈ 0.71 ≥ 0.5) — one
    // cluster; doc 2 is longer with more distinct tokens → higher
    // quality, so the keeper must be doc 2 even though doc 1 has the
    // lower id. Doc 3 is a singleton.
    val df = docs(
      1L -> "the quick brown fox jumps over dog",
      2L -> "the quick brown fox jumps over dog near marsh woods",
      3L -> "completely unrelated text about spark engines")
    val got = Dedup.dedupKeepBest(df, 3, 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L, "docs 1,2 share a cluster")
    assert(got(2L)._2 > got(1L)._2, "doc 2 must score higher quality")
    assert(got(2L)._3 == 1L && got(1L)._3 == 0L,
      "the keeper is the best-quality member, not the lowest id")
    assert(got(3L)._1 == 3L && got(3L)._3 == 1L, "singletons are kept")
  }

  test("quantizeEmbeddings: codes in [0,255], dequant error <= one step, " +
    "constant vector codes to zeros") {
    val e = Seq(
      (0L, Array(-1.0f, 0.0f, 0.5f, 1.0f)),
      (1L, Array(0.25f, 0.25f, 0.25f, 0.25f)), // constant → scale 0
      (2L, Array(3.0f, -2.0f, 7.5f, 0.125f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeEmbeddings(e).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getString(3).split(" ").map(_.toLong))).sortBy(_._1)
    val orig = Map(0L -> Array(-1.0, 0.0, 0.5, 1.0),
      1L -> Array(0.25, 0.25, 0.25, 0.25),
      2L -> Array(3.0, -2.0, 7.5, 0.125))
    for ((id, zero, scale, codes) <- got) {
      assert(codes.forall(c => c >= 0L && c <= 255L))
      // reconstruction: |v − (zero + code·scale)| ≤ scale (one step)
      for ((c, v) <- codes.zip(orig(id)))
        assert(math.abs(v - (zero + c * scale)) <= scale + 1e-12,
          s"vec $id: code $c misses $v beyond one step $scale")
    }
    val const = got.find(_._1 == 1L).get
    assert(const._3 == 0.0 && const._4.forall(_ == 0L))
    // extremes map to the ends of the code range
    assert(got.find(_._1 == 0L).get._4.toSeq == Seq(0L, 127L, 191L, 255L))
  }

  test("fuzzyJoinParts banded block equals the brand-only brute force " +
    "at sf0.001 (recall 1.0 on real data)") {
    val dir = "/root/testdata/sf0.001"
    val blocked = graft.operators.Analytics.fuzzyJoinParts(spark, dir, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val p = Tables.table(spark, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_name"))
    val brute = p.toDF("ba", "ka", "na").crossJoin(p.toDF("bb", "kb", "nb"))
      .filter(col("ba") === col("bb") && col("ka") < col("kb") &&
        levenshtein(col("na"), col("nb")) <= 2)
      .select(col("ba"), col("ka"), col("kb"),
        levenshtein(col("na"), col("nb")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(blocked == brute && blocked.nonEmpty)
  }

  test("fuzzy banded block retains planted pairs whose edits hit the " +
    "leading tokens (pigeonhole recall)") {
    import spark.implicits._
    // adversarial plants against the (brand, position, token) bands:
    //  1↔2: BOTH edits inside bands 1-2 — only band 3 can pair them
    //  1↔3: edits in tokens 4-5 — any leading band pairs them
    //  4:   shares band 3 ("coral") but is >2 edits from everyone —
    //       candidate must be generated then rejected by the DP
    //  5:   identical name, different brand — must never pair
    val rows = Seq(
      (1L, "B1", "alpha beige coral dove ebony"),
      (2L, "B1", "alphz beigz coral dove ebony"),
      (3L, "B1", "alpha beige coral dovz ebonz"),
      (4L, "B1", "gamma delta coral dove ebony"),
      (5L, "B2", "alpha beige coral dove ebony"))
      .toDF("p_partkey", "p_brand", "p_name")
      .select(col("p_brand"), col("p_partkey"), col("p_name"))
    val got = graft.operators.Analytics.fuzzyMatchPairs(rows, 2, 3)
      .select(col("part_a"), col("part_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 2L)),
      s"banded block must keep exactly the two planted ≤2-edit pairs: $got")
    // names with <= maxDist tokens have no clean band guaranteed (the
    // single token absorbs the whole edit budget: 'abc' vs 'abd') —
    // the low-token length-banded fallback must recover them
    val short = Seq(
      (1L, "B1", "abc"),
      (2L, "B1", "abd"),
      (3L, "B1", "totally different words here"),
      (4L, "B2", "abc"))
      .toDF("p_partkey", "p_brand", "p_name")
      .select(col("p_brand"), col("p_partkey"), col("p_name"))
    val shortGot = graft.operators.Analytics.fuzzyMatchPairs(short, 2, 3)
      .select(col("part_a"), col("part_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    assert(shortGot == Set((1L, 2L, 1L)),
      s"low-token fallback must pair same-brand short names: $shortGot")
  }

  test("hybridRetrieval fuses by reciprocal rank: a doc strong in BOTH " +
    "lists outranks single-list docs") {
    val dir = "/root/testdata/sf0.01"
    val fused = graft.operators.Similarity.hybridRetrieval(
      Tables.table(spark, dir, "documents"),
      Tables.table(spark, dir, "embeddings"),
      Seq("spark", "hash", "join"), 20, 10)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf_micros"), col("rank")).collect()
    assert(fused.length == 10, s"top-10 fused list, got ${fused.length}")
    assert(fused.map(_.getInt(4)).toSeq == (1 to 10),
      "ranks must be dense 1..10")
    // every fused doc came from at least one retriever's top-20
    assert(fused.forall(r => !r.isNullAt(1) || !r.isNullAt(2)))
    // rrf is the fixed-point sum of its per-list terms — recompute
    fused.foreach { r =>
      val lex = if (r.isNullAt(1)) 0L else 1000000L / (60 + r.getInt(1))
      val sem = if (r.isNullAt(2)) 0L else 1000000L / (60 + r.getInt(2))
      assert(r.getLong(3) == lex + sem,
        s"rrf_micros mismatch for doc ${r.getLong(0)}")
    }
    // the list is sorted by (rrf desc, doc_id): a doc present in BOTH
    // lists at ranks (a, b) always beats a doc present only in one list
    // at rank min(a, b) — monotonicity of the fusion
    val scores = fused.map(_.getLong(3)).toSeq
    assert(scores == scores.sorted.reverse, "fused order must follow rrf")
  }
}
