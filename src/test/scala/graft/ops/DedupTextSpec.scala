package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  /** The exploded-rows MinHash formulation (shuffles on id) that
    * `Dedup.minhashSignaturesLocal` is checked against: one md5 per
    * shingle, h1/h2 the little-endian halves, minimum of (h1 + j·h2) mod
    * 2⁶⁴ per j as a zero-padded 20-digit decimal. DECIMAL(38,0) arithmetic
    * keeps the mod-2⁶⁴ values exact (h1 + 7·h2 < 2⁶⁷ ≪ 10³⁸).
    */
  private def minhashSignatures(
      sh: org.apache.spark.sql.DataFrame, idCol: String, nHashes: Int) = {
    def le64hex(off: Int) = {
      val pairs = (7 to 0 by -1).map(i => s"substr(__md, ${off + 2 * i + 1}, 2)")
      s"CAST(conv(concat(${pairs.mkString(", ")}), 16, 10) AS DECIMAL(38,0))"
    }
    val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
    val withH = sh.withColumn("__md", md5(col("shingle")))
      .withColumn("__h1", expr(le64hex(16)))
      .withColumn("__h2", expr(le64hex(0)))
    def mh(j: Int) =
      lpad(min(expr(s"(__h1 + $j * __h2) % $two64")).cast("string"), 20, "0").as(s"mh_$j")
    withH.groupBy(col(idCol)).agg(mh(0), (1 until nHashes).map(mh): _*)
  }

  /** (id, shingle) rows, de-duplicated per doc, for the docs with at
    * least k tokens — the string form of `Text.shingleKeySet`, kept here
    * as the reference the key set and the minhash signatures are checked
    * against.
    */
  private def shingleSet(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String, k: Int) =
    df.filter(size(Text.tokens(col(textCol))) >= k)
      .select(col(idCol),
        explode(array_distinct(Text.shingles(Text.tokens(col(textCol)), k))).as("shingle"))

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words appear in this one here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates to the minimum id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("n_docs") > 1)
      .select("n_docs", "keeper_id").as[(Long, Long)].collect().toSeq
    assert(g == Seq((2L, 1L)))
  }

  test("jaccardPairs finds the near-dup pair and the exact pair, not the distinct doc") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // high overlap
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("array-local minhash signatures equal the exploded-groupBy formulation") {
    val sh = shingleSet(docs, "doc_id", "text", 3)
    val viaRows = minhashSignatures(sh, "doc_id", 8).orderBy("doc_id").collect().toSeq
    val viaLocal = Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
      .orderBy("doc_id").collect().toSeq
    assert(viaRows == viaLocal)
  }

  test("minhash LSH surfaces the exact pair with all hashes agreeing") {
    val sig = Dedup.minhashSignaturesLocal(docs, "doc_id", "text", 3, 8)
    val cand = Dedup.lshCandidates(sig, "doc_id", 8, 4)
      .select("a_id", "b_id", "n_equal").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cand((1L, 4L)) == 8L) // identical text → identical signature
    assert(!cand.contains((1L, 3L)))
  }

  test("lshCandidates: signature collapse preserves the full pair relation and n_equal") {
    // a 5-doc EXACT family (50..54), a near-dup of it (55), a distinct doc
    // (56): the family must reach the band join as ONE representative yet
    // the expanded output must still carry all 10 within pairs at 8/8
    val fam = "the quick brown fox jumps over the lazy dog again and again"
    val df = ((50L to 54L).map(i => (i, fam)) ++ Seq(
      (55L, "the quick brown fox jumps over the lazy cat again and again"),
      (56L, "totally unrelated content with none of those words present here")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesLocal(df, "doc_id", "text", 3, 8)
    // reference relation, computed directly from the collected signatures:
    // candidates share >= 1 band of 2 consecutive minhashes; n_equal counts
    // agreeing minhashes — the pre-collapse definition, brute-forced
    val sigs = sig.collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString).toVector).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if (0 until 4).exists(band =>
        sigs(a)(2 * band) == sigs(b)(2 * band) &&
          sigs(a)(2 * band + 1) == sigs(b)(2 * band + 1))
    } yield (a, b) -> (0 until 8).count(j => sigs(a)(j) == sigs(b)(j)).toLong).toMap
    val rows = Dedup.lshCandidates(sig, "doc_id", 8, 4)
      .select("a_id", "b_id", "n_equal").as[(Long, Long, Long)].collect().toSeq
    Caches.releaseAll()
    assert(rows.size == rows.map(r => (r._1, r._2)).toSet.size) // no dup pair rows
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == expected)
    // and the family itself is fully paired at 8/8
    for (a <- 50L to 54L; b <- (a + 1) to 54L)
      assert(expected((a, b)) == 8L, s"within pair ($a,$b)")
  }

  test("lshRepCandidates bands only distinct signatures; collapsed CC matches expanded CC") {
    val fam = "the quick brown fox jumps over the lazy dog again and again"
    val df = ((50L to 54L).map(i => (i, fam)) ++ Seq(
      (55L, "the quick brown fox jumps over the lazy cat again and again"),
      (56L, "totally unrelated content with none of those words present here")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesLocal(df, "doc_id", "text", 3, 8)
    val members = Caches.trackPersist(Dedup.sigClusterMembers(sig, "doc_id", 8))
    // the exact family collapses to rep 50; candidate relation is rep-level
    val reps = members.select("doc_id", "__rep").as[(Long, Long)].collect().toMap
    assert((50L to 54L).forall(reps(_) == 50L) && reps(55L) == 55L && reps(56L) == 56L)
    val repPairs = Dedup.lshRepCandidates(members, "doc_id", 8, 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(repPairs.forall { case (a, b) => Set(50L, 55L, 56L)(a) && Set(50L, 55L, 56L)(b) })
    // components over repPairs + member edges == components over the
    // expanded pair list (the d14 equivalence)
    val memberEdges = members.filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("a_id"), col("doc_id").as("b_id"))
    val viaCollapsed = Dedup.connectedComponents(
      Dedup.lshRepCandidates(members, "doc_id", 8, 4)
        .filter(col("n_equal") >= 6).select("a_id", "b_id").unionByName(memberEdges),
      "a_id", "b_id").as[(Long, Long)].collect().toMap
    val viaExpanded = Dedup.connectedComponents(
      Dedup.lshCandidates(sig, "doc_id", 8, 4)
        .filter(col("n_equal") >= 6).select("a_id", "b_id"),
      "a_id", "b_id").as[(Long, Long)].collect().toMap
    Caches.releaseAll()
    assert(viaCollapsed == viaExpanded)
  }

  test("sigClusterMembers: the groupBy escape is bit-identical to the window form") {
    val fam = "the quick brown fox jumps over the lazy dog again and again"
    val df = ((50L to 54L).map(i => (i, fam)) ++ Seq(
      (55L, "the quick brown fox jumps over the lazy cat again and again"),
      (56L, "totally unrelated content with none of those words present here")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesLocal(df, "doc_id", "text", 3, 8)
    def rows(viaGroupBy: Boolean) =
      Dedup.sigClusterMembers(sig, "doc_id", 8, viaGroupBy = viaGroupBy)
        .collect().map(_.toSeq).toSet
    val (win, gb) = (rows(false), rows(true))
    assert(win == gb, "escape form diverged from the window form")
    // same column ORDER too (downstream consumers select by position-free
    // names, but the contract is one relation, two physical plans)
    assert(
      Dedup.sigClusterMembers(sig, "doc_id", 8).columns.toSeq ==
        Dedup.sigClusterMembers(sig, "doc_id", 8, viaGroupBy = true).columns.toSeq)
  }

  test("sharedSpans finds the maximal shared token span") {
    val spans = Dedup.sharedSpans(docs, "doc_id", "text", 3, 5)
      .select("a_id", "b_id", "a_start", "b_start", "span_len")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // docs 1 and 4 are identical 9-token texts: one maximal span of 9
    assert(spans.contains((1L, 4L, 0L, 0L, 9L)))
  }

  test("sharedSpans maxGramDf drops hot grams and splits spans at them") {
    val span10 = "alpha beta gamma delta HOT1 HOT2 HOT3 epsilon zeta eta"
    val base = Seq((10L, span10), (11L, span10))
    // six filler docs make the gram (HOT1 HOT2 HOT3) corpus-hot (df = 8)
    val filler = (20L to 25L).map(i => (i, "HOT1 HOT2 HOT3"))
    val df = (base ++ filler).toDF("doc_id", "text")
    val uncapped = Dedup.sharedSpans(df, "doc_id", "text", 3, 5)
      .select("a_id", "b_id", "a_start", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(uncapped.contains((10L, 11L, 0L, 10L))) // one maximal span
    val capped = Dedup.sharedSpans(df, "doc_id", "text", 3, 5, maxGramDf = 3)
      .select("a_id", "b_id", "a_start", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.ops.Caches.releaseAll()
    // the hot gram at position 4 is dropped: the span splits into the
    // fragments [0..5] (grams 0-3) and [5..9] (grams 5-7), both >= 5 tokens
    assert(capped == Set((10L, 11L, 0L, 6L), (10L, 11L, 5L, 5L)))
  }

  test("jaccardPairs maxShingleDf: hot boilerplate shingles stop creating pairs") {
    // every doc shares the hot run "H1 H2 H3"; only 30/31 genuinely overlap
    val hot = "H1 H2 H3"
    val df = Seq(
      (30L, s"alpha beta gamma delta $hot"),
      (31L, s"alpha beta gamma delta $hot epsilon")
    ) ++ (40L to 49L).map(i => (i, s"unique$i words$i only$i here$i $hot"))
    val docs = df.toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.01)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    Caches.releaseAll()
    // the hot trigram alone pairs every doc with every other
    assert(uncapped.size == 12 * 11 / 2)
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.01, maxShingleDf = 5)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
    Caches.releaseAll()
    // only the genuine near-dup pair survives, with jaccard over the
    // capped shingle universe
    assert(capped.map(p => (p._1, p._2)).toSet == Set((30L, 31L)))
    assert(capped.head._3 > 0.3)
  }

  test("shingleKeySet: same equality relation as the string shingle set") {
    val ss = shingleSet(docs, "doc_id", "text", 3)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ks = Text.shingleKeySet(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ss.keySet == ks.keySet)
    for (a <- ss.keySet; b <- ss.keySet if a < b) {
      // shared-shingle COUNTS agree doc-pair-wise (no collisions here)
      assert(ss(a).intersect(ss(b)).size == ks(a).intersect(ks(b)).size, s"pair ($a,$b)")
      assert(ss(a).size == ks(a).size)
    }
    // shorter than k → no rows
    val tiny = Seq((9L, "a b")).toDF("doc_id", "text")
    assert(Text.shingleKeySet(tiny, "doc_id", "text", 3).isEmpty)
  }

  test("connectedComponents labels every node with the component minimum") {
    // two components: a 6-node PATH 10-11-12-13-14-15 (forces label chains —
    // pointer jumping must still converge) and a triangle 20-21-22
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    graft.ops.Caches.releaseAll()
    assert((10L to 15L).forall(comp(_) == 10L))
    assert((20L to 22L).forall(comp(_) == 20L))
    assert(comp.size == 9) // nodes outside the pair graph are absent
  }

  test("connectedComponents: edge direction and duplication don't matter; empty input is empty") {
    val pairs = Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 3L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    graft.ops.Caches.releaseAll()
    assert(comp == Map(3L -> 3L, 5L -> 3L, 7L -> 3L))
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.isEmpty)
  }

  test("simhash: equal text → equal fingerprint; disjoint text → different") {
    val fp = Dedup.simhash(docs, "doc_id", "text", 16)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(3L))
    assert(fp.values.forall(v => v >= 0 && v < 65536))
  }

  test("languageId recovers the language of vocabulary-separated corpora") {
    val corpus = (Seq.tabulate(20)(i => (i.toLong, s"alpha beta gamma delta epsilon token$i", "aa")) ++
      Seq.tabulate(20)(i => (100L + i, s"uno dos tres cuatro cinco token$i", "bb")))
      .toDF("doc_id", "text", "lang")
    val pred = Text.languageId(corpus, "doc_id", "text", "lang", 5)
    val joined = corpus.join(pred, "doc_id")
    assert(joined.filter(col("lang") =!= col("pred_lang")).count() == 0)
  }

  test("embeddingNearDup = sign-agreement candidates filtered by cosine; planted dup recalled") {
    val rng = new scala.util.Random(5)
    val base = (0L until 40L).map(i => (i, Array.fill(64)(rng.nextFloat() - 0.5f)))
    val planted = (40L, base(0)._2.map(x => x + 0.001f)) // near-dup of vec 0
    val all = base :+ planted
    val df = all.toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding",
        occupancy = 8, bands = 4, minCos = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    // direct replication of the contract: candidates are pairs agreeing on
    // ANY band's sign slice; survivors have cosine >= 0.9
    val bits = Vectors.adaptiveSignBits(all.size.toLong, 8)
    def bandKeys(v: Array[Float]) =
      (0 until 4).map(l => (l, (0 until bits).map(i => v(l * bits + i) >= 0).mkString))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      if bandKeys(va).intersect(bandKeys(vb)).nonEmpty
      if cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    assert(out == expected)
    assert(out.contains((0L, 40L))) // planted pair agrees on every sign bit
  }

  test("fingerprint normalizes whitespace and case") {
    val df = Seq((1L, "A  b\tc"), (2L, "a b c")).toDF("id", "t")
    val fps = df.select(Text.fingerprint(col("t")).as("f")).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("overlapFraction grades train docs by shared-shingle fraction; sub-k docs absent") {
    // bench = doc 4 (text identical to doc 1); doc 5 is below k tokens
    val train = docs.filter(col("doc_id") =!= 4L)
      .union(Seq((5L, "too short")).toDF("doc_id", "text"))
    val bench = docs.filter(col("doc_id") === 4L)
    val out = Dedup.overlapFraction(train, bench, "doc_id", "text", 3)
      .select("doc_id", "n_grams", "n_shared_grams", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(out(1L) == ((7L, 7L, 1.0))) // exact text match
    assert(out(2L) == ((7L, 6L, 6.0 / 7.0))) // near-dup: only "the lazy cat" unshared
    assert(out(3L) == ((6L, 0L, 0.0))) // disjoint vocabulary
    assert(!out.contains(5L)) // 2 tokens < k: no shingles, no denominator
  }

  test("unigramLogProb: corpus-LM mean log-prob, partition-invariant") {
    val corpus = Seq((1L, "a a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = Text.unigramLogProb(corpus, "doc_id", "text")
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    // vocab: a ×4, b ×1, total 5 — scores via the same trunc-9 fixed point
    def t9(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e9)
    val (lpA, lpB) = (math.log(4.0 / 5.0), math.log(1.0 / 5.0))
    assert(out(1L) == ((3L, t9(lpA) * 3 / 1e9 / 3.0)))
    assert(out(2L) == ((2L, (t9(lpA) + t9(lpB)) / 1e9 / 2.0)))
    assert(out(1L)._2 > out(2L)._2) // common-token doc scores higher
    // the trunc-9 decimal sum makes the score independent of partitioning
    val repart = Text.unigramLogProb(corpus.repartition(7), "doc_id", "text")
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    assert(repart == out)
  }

  test("containmentPairs catches doc-inside-doc pairs that Jaccard misses") {
    val contained = "w1 w2 w3 w4 w5"
    val container = "x1 x2 x3 x4 x5 x6 x7 " + contained + " y1 y2 y3 y4 y5 y6 y7"
    val corpus = Seq((1L, contained), (2L, container), (3L, "p q r s t u")).toDF("doc_id", "text")
    // 1's three 3-shingles all occur in 2: cont_a = 1.0, but jaccard = 3/17
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "symmetric Jaccard should miss the containment pair")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.8)
      .select("a_id", "b_id", "shared", "na", "nb", "cont_a", "cont_b")
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 3L, 3L, 17L, 1.0, 3.0 / 17.0)))
  }

  test("containmentPairs maxShingleDf drops corpus-hot shingles from every set") {
    val hot = "HOT1 HOT2 HOT3"
    // 1 ⊂ 2 via the hot shingle only; six fillers push its df over the cap
    val corpus = (Seq((1L, hot + " a b"), (2L, "z1 z2 " + hot + " z3 z4")) ++
      (10L to 15L).map(i => (i, hot))).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.5, maxShingleDf = 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 == 1L && p._2 == 2L),
      "with the hot shingle dropped, 1 and 2 share nothing")
  }

  test("topGramShare: loop spam concentrates on one gram; prose does not") {
    val corpus = Seq(
      (1L, "buy now buy now buy now"),
      (2L, "all grams here are fully distinct words"),
      (3L, "xy")) // 1 token < k: no row
    .toDF("doc_id", "text")
    val out = Text.topGramShare(corpus, "doc_id", "text", 2)
      .select("doc_id", "n_grams", "top_gram_count", "top_gram_share")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, c, s) => id -> ((n, c, s)) }.toMap
    assert(out(1L) == ((5L, 3L, 0.6))) // "buy now"×3 of 5 bigrams
    assert(out(2L) == ((6L, 1L, 1.0 / 6.0)))
    assert(!out.contains(3L))
  }

  test("bpeMerges learns the classic low/lower merge sequence") {
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val rules = Text.bpeMerges(corpus, "text", 5)
      .select("merge_rank", "pair", "merged", "pair_count")
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    // vocab: low×2, lower×1; round-1 tie (l o)=3 vs (o w)=3 breaks
    // lexicographically; rounds stop when no pairs remain (4 < 5 asked)
    assert(rules == Seq(
      (1L, "l o", "lo", 3L),
      (2L, "lo w", "low", 3L),
      (3L, "e r", "er", 1L),
      (4L, "low er", "lower", 1L)))
  }

  test("bpeEncode counts symbols under the learned merges, words isolated") {
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    // rounds=2 learns (l o) and (lo w): "low" -> 1 symbol, "lower" -> low e r
    val enc2 = Text.bpeEncode(corpus, "doc_id", "text", 2)
      .select("doc_id", "n_chars", "n_words", "n_bpe_tokens", "chars_per_token")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(enc2 == ((1L, 11L, 3L, 5L, 11.0 / 5.0)))
    // rounds=4 additionally learns (e r) and (low er): every word 1 symbol
    val enc4 = Text.bpeEncode(corpus, "doc_id", "text", 4)
      .select("n_bpe_tokens").as[Long].head()
    assert(enc4 == 3L)
  }

  test("bpeMerges merges overlapping repeats greedily left-to-right") {
    val corpus = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val rules = Text.bpeMerges(corpus, "text", 3)
      .select("merge_rank", "pair", "merged", "pair_count")
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    // 'a a a a' has 3 (a,a) pairs but greedy application yields 'aa aa',
    // so round 2 finds exactly one (aa,aa) pair
    assert(rules == Seq(
      (1L, "a a", "aa", 3L),
      (2L, "aa aa", "aaaa", 1L)))
  }

  test("simhash at 60 bits: positive BIGINT range, equal token sets → equal fp") {
    val fps = Dedup.simhash(docs, "doc_id", "text", 60)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fps.values.forall(fp => fp >= 0L && fp < (1L << 60)))
    assert(fps(1L) == fps(4L)) // identical text
    assert(fps(1L) != fps(3L)) // disjoint vocabulary
  }

  test("simhashNearDups: min earlier doc within the radius; first occurrence stays clean") {
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", 60, 4, 3)
      .select("doc_id", "neardup_of", "is_neardup")
      .as[(Long, Option[Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 4 is an exact dup of doc 1 (hamming 0) → earlier partner 1
    assert(out(4L) == ((Some(1L), 1L)))
    // doc 1 is the first occurrence → clean
    assert(out(1L) == ((None, 0L)))
    // doc 3 shares no vocabulary → clean
    assert(out(3L) == ((None, 0L)))
  }

  test("simhashNearDups banded candidates equal the brute-force relation (pigeonhole)") {
    // wider corpus: shifted near-dup variants + distinct docs
    val corpus = (1L to 20L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta"
      val text =
        if (i % 3 == 0) base // identical cluster
        else if (i % 3 == 1) base + s" extra$i" // near variants
        else s"unrelated text number $i with its own words entirely"
      (i, text)
    }.toDF("doc_id", "text")
    val fps = Dedup.simhash(corpus, "doc_id", "text", 60)
      .select("doc_id", "simhash").as[(Long, Long)].collect().sortBy(_._1)
    val brute = fps.map { case (id, fp) =>
      val earlier = fps.filter { case (b, bfp) =>
        b < id && java.lang.Long.bitCount(fp ^ bfp) <= 3
      }.map(_._1)
      id -> (if (earlier.isEmpty) None else Some(earlier.min))
    }.toMap
    val banded = Dedup.simhashNearDups(corpus, "doc_id", "text", 60, 4, 3)
      .select("doc_id", "neardup_of").as[(Long, Option[Long])].collect().toMap
    assert(banded == brute)
  }

  test("gopherRepetition: planted chant and copy-paste flag; clean doc passes; short doc emits no row") {
    // doc 1: "a b" chanted — tokens a,b,a,b,a,b,a,b → 7 bigram slots of
    // which "a b" takes 4 (share 4/7 > 0.2), and all 6 trigrams are
    // duplicated ("a b a"×3, "b a b"×3 → frac 1.0 > 0.15) → flagged both
    // ways. doc 2: all-distinct tokens → top share 1/6, dup frac 0 →
    // clean. doc 3: 2 tokens → below trigram support, no row.
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, "the quick brown fox jumps over dog"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val got = Text.gopherRepetition(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams", "top_bigram_count", "n_trigrams",
        "dup_trigram_occ", "top2gram_share", "dup3gram_frac", "flagged")
      .as[(Long, Long, Long, Long, Long, Double, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L))
    val d1 = got(1L)
    assert(d1._2 == 7L && d1._3 == 4L && d1._4 == 6L && d1._5 == 6L)
    assert(d1._6 == 4.0 / 7.0 && d1._7 == 1.0 && d1._8 == 1L)
    val d2 = got(2L)
    assert(d2._2 == 6L && d2._3 == 1L && d2._4 == 5L && d2._5 == 0L)
    assert(d2._6 == 1.0 / 6.0 && d2._7 == 0.0 && d2._8 == 0L)
  }

  test("curationGates == a plain-Scala reference of every gate; id and text carried") {
    // short (< 3 tokens), repetitive, stopword-heavy and multi-byte docs,
    // plus runs of spaces (empty tokens) and a doc whose repeated bigrams
    // sit exactly on the 0.2 share while its trigrams are all distinct; the
    // id and text ride along as carry columns, as the stream ingest does
    val texts = Seq(
      "", "one", "two words", " padded   spacing  here ", "the the the the",
      "buy now buy now buy now buy now", "a b a b a b a b c", "b1 b2 c1 c2 b1 b2 d1 d2 c1 c2 e",
      "the cat of the hat in a box to the", "the quick brown fox jumps over the lazy dog",
      "ä 日本 ä 日本 ä", "spam spam spam spam spam spam ham", "der und die der und")
    val profiles = Seq("en" -> Seq("the", "a", "cat"), "de" -> Seq("der", "und"))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Text.curationGates(docs, "doc_id", "text", profiles, 0.35,
      carryCols = Seq("text", "doc_id"))
    assert(out.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
      ("doc_id", "bigint", false), ("text", "string", true), ("doc_id", "bigint", false),
      ("pred_lang", "string", true), ("n_tokens", "bigint", true),
      ("quality_score", "double", true), ("quality_ok", "boolean", true),
      ("rep_flagged", "bigint", true)))
    def grams(t: Seq[String], k: Int) = t.sliding(k).map(_.mkString(" ")).toSeq
    def counts(g: Seq[String]) = g.groupBy(identity).values.map(_.size.toLong)
    val expected = texts.zipWithIndex.map { case (text, i) =>
      val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.split(" ", -1).toSeq
      val n = t.size.toDouble
      val q = t.distinct.size / n * (1.0 - t.count(Text.qualityStops.contains) / n)
      val lang = profiles.map { case (l, p) => (-t.count(p.contains), l) }
        .filter(_._1 < 0).minOption.map(_._2)
      val rep = Option.when(t.size >= 3) {
        val (bg, tg) = (grams(t, 2), grams(t, 3))
        if (counts(bg).max.toDouble / bg.size > 0.2 ||
            counts(tg).filter(_ >= 2).sum.toDouble / tg.size > 0.15) 1L else 0L
      }
      (i.toLong, text, i.toLong, lang, t.size.toLong, q, q >= 0.35, rep)
    }
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      Option(r.getString(3)), r.getLong(4), r.getDouble(5), r.getBoolean(6),
      Option(r.get(7)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
    assert(got == expected)
  }
}
