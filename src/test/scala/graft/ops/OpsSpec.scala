package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Hand-computed fixtures + degenerate-input edges for the pipeline ops
  * (the DuckDB oracle covers bulk parity; these pin the semantics). */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def docsDF(texts: (Long, String)*) =
    texts.toSeq.toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val df = docsDF(1L -> "hello world", 2L -> "hello world", 3L -> "bye")
    val out = Dedup.exact(df, "doc_id", Seq("text")).orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((1L, 2L), (3L, 1L)))
  }

  test("normalized dedup ignores case/punct/whitespace") {
    val df = docsDF(1L -> "Hello,   WORLD!", 2L -> "hello world", 3L -> "helloworld")
    val out = Dedup.normalized(df, "doc_id", "text").collect()
    assert(out.length == 2) // 1 and 2 merge; 3 differs (one token)
  }

  test("shingles produces ordered distinct word n-grams") {
    val df = docsDF(1L -> "a b c d")
    val sh = df.select(graft.functions.shingles(col("text"), 3))
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    // doc shorter than shingle size → empty array
    assert(docsDF(2L -> "a b").select(graft.functions.shingles(col("text"), 3))
      .head().getSeq[String](0).isEmpty)
    // repeated n-grams dedup
    assert(docsDF(3L -> "a b a b a b").select(graft.functions.shingles(col("text"), 2))
      .head().getSeq[String](0) == Seq("a b", "b a"))
  }

  test("connectedComponents labels every node with its cluster min") {
    // chain 1-2-3, pair 5-6, triangle 7-8-9 with bridge 9-10
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L),
      (7L, 9L), (9L, 10L)).toDF("id1", "id2")
    val out = Dedup.connectedComponents(pairs).orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L))
    // long chain converges (diameter > 1 round)
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(chain).select("component")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(cc == Seq(1L))
  }

  test("sampling is deterministic, quota-bounded, and disjoint-salt independent") {
    val df = (1L to 500L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "stratum")
    val s1 = Sampling.bernoulli(df, col("doc_id"), 0.2).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.bernoulli(df, col("doc_id"), 0.2).collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 200) // reproducible, plausible rate
    // a higher rate is a superset (hash-threshold nesting)
    val s3 = Sampling.bernoulli(df, col("doc_id"), 0.5).collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
    // different salt decorrelates
    assert(Sampling.bernoulli(df, col("doc_id"), 0.2, salt = "other")
      .collect().map(_.getLong(0)).toSet != s1)
    // quota: exactly k per stratum, stable rank
    val q = Sampling.stratifiedQuota(df, col("stratum"), col("doc_id"), k = 7)
    assert(q.groupBy("stratum").count().collect().forall(_.getLong(1) == 7L))
    // mix: stratum "a" only
    val m = Sampling.weightedMix(df, col("stratum"), col("doc_id"), Map("a" -> 1.0))
    assert(m.count() == 250 && m.select("stratum").distinct().head().getString(0) == "a")
  }

  test("mixturePlan: normalized shares, repetition epochs, absent source reserves") {
    val df = Seq(("a", 100L), ("a", 100L), ("b", 800L)).toDF("src", "toks")
    val plan = Sampling.mixturePlan(df, col("src"), col("toks"),
      Seq("a" -> 3.0, "b" -> 1.0, "c" -> 0.0), budgetTokens = 1000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), Option(r.get(5))))
    assert(plan.toSeq == Seq(
      ("a", 2L, 200L, 0.75, 750L, Some(3.75)), // epochs > 1: source repeats
      ("b", 1L, 800L, 0.25, 250L, Some(0.3125)),
      ("c", 0L, 0L, 0.0, 0L, None)))           // weighted-but-absent: reserved
  }

  test("splitByGroup: a group never straddles splits; singletons match plain split") {
    val df = (1L to 300L).map(i => (i, if (i <= 200) Some(i % 20) else None))
      .toDF("doc_id", "grp")
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val out = Sampling.splitByGroup(df, col("doc_id"), col("grp"), splits)
    // every non-null group lands in exactly one split
    val perGroup = out.where(col("grp").isNotNull)
      .groupBy("grp").agg(countDistinct(col("split")).as("n")).collect()
    assert(perGroup.nonEmpty && perGroup.forall(_.getLong(1) == 1L))
    // null-group rows fall back to their own key: identical to split()
    val solo = out.where(col("grp").isNull)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val plain = Sampling.split(df.where(col("grp").isNull), col("doc_id"), splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(solo == plain && solo.size == 100)
    // all three splits are populated at this n (sanity on the hash spread)
    assert(out.select("split").distinct().count() == 3)
  }

  test("native minhash expression is bit-identical to the HOF formulation") {
    val texts = Seq(
      1L -> "The quick brown fox jumps over the lazy dog",
      2L -> "  Héllo,   wörld! Ça va? Süß—straße 42 ",
      3L -> "中文 文本 分词 测试 中文 文本",
      4L -> "a b",               // shorter than shingle size
      5L -> "same same same same same", // repeated shingles collapse
      6L -> "MiXeD CaSe TOKENS and 123 456 789 numbers")
    val df = docsDF(texts: _*)
    val both = df.select(col("doc_id"),
      Dedup.shingleHashesHof(col("text"), 3).as("hof"),
      Dedup.shingleHashes(col("text"), 3).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: hof=${r.getSeq[Long](1)} native=${r.getSeq[Long](2)}")
    }
  }

  test("property: native minhash/simhash match HOF on random unicode text") {
    import org.scalacheck.Gen
    val wordGen = Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaNumChar),
      Gen.oneOf("héllo", "wörld", "中文", "Straße", "été", "a", "B9", "ß"),
      Gen.stringOfN(2, Gen.oneOf('α', 'β', 'ж', '漢', '0', 'z')))
    val sepGen = Gen.oneOf(" ", "  ", ", ", "—", "\t", "!?", ".")
    val textGen = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, wordGen)
      seps <- Gen.listOfN(n, sepGen)
    } yield ws.zip(seps).map { case (w, s) => w + s }.mkString
    val texts = (1 to 60).flatMap(i =>
      textGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i)).map(i.toLong -> _))
    val df = docsDF(texts: _*)
    val rows = df.select(
      Dedup.shingleHashesHof(col("text"), 2).as("hhof"),
      Dedup.shingleHashes(col("text"), 2).as("hnat"),
      Dedup.simhash64Hof(col("text")).as("shof"),
      Dedup.simhash64(col("text")).as("snat")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getLong(2) == r.getLong(3))
    }
    // fused band keys ≡ HOF md5-over-sig-slice derivation (same docs)
    val bandRows = df
      .where(size(graft.functions.tokens(col("text"))) >= 2)
      .select(graft.functions.MinhashExpressions
        .minhash_packed(col("text"), 2, 8, 4).as("d"))
      .select(col("d.bands").as("nat"),
        transform(sequence(lit(0), lit(3)), b => md5(concat_ws("|",
          transform(slice(col("d.sig"), b * 2 + 1, lit(2)), x => x.cast("string")))))
          .as("hof"))
      .collect()
    assert(bandRows.nonEmpty)
    bandRows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("native simhash expression is bit-identical to the HOF formulation") {
    val df = docsDF(
      1L -> "The quick brown fox jumps over the lazy dog",
      2L -> "  Héllo,   wörld! Ça va? Süß—straße 42 ",
      3L -> "中文 文本 分词 测试 中文 文本",
      4L -> "",
      5L -> "repeat repeat repeat distinct")
    df.select(Dedup.simhash64Hof(col("text")).as("hof"),
      Dedup.simhash64(col("text")).as("native"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("decontamination flags n-gram overlap with the benchmark set") {
    val corpus = docsDF(
      1L -> "the quick brown fox jumps over the lazy dog",  // identical to bench
      2L -> "completely unrelated text about databases and queries",
      3L -> "the quick brown fox sleeps all day long today") // partial overlap
    val bench = docsDF(100L -> "the quick brown fox jumps over the lazy dog")
    val flagged = Decontaminate.flag(corpus, bench, "doc_id", "text",
      shingleSize = 2, threshold = 0.4).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(1L))
    assert(flagged.head.getDouble(3) == 1.0) // full overlap
    // lower threshold also catches the partial doc, never the unrelated one
    val loose = Decontaminate.flag(corpus, bench, "doc_id", "text",
      shingleSize = 2, threshold = 0.2).collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 3L))
    val clean = Decontaminate.clean(corpus, bench, "doc_id", "text",
      shingleSize = 2, threshold = 0.4).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("rare-shingle decontamination finds the asymmetric embedded item") {
    // the case MinHash banding structurally misses: a short benchmark
    // item inside a MUCH longer doc (low Jaccard, containment 1.0).
    // flagFuzzyRare forms the candidate from any rare shared shingle.
    val pad = (1 to 80).map(i => s"filler$i").mkString(" ")
    val corpus = docsDF(
      1L -> (pad + " the quick brown fox jumps over the lazy dog " + pad),
      2L -> "completely unrelated text about databases and queries")
    val bench = docsDF(100L -> "the quick brown fox jumps over the lazy dog")
    val flagged = Decontaminate.flagFuzzyRare(corpus, bench, "doc_id", "text",
      shingleSize = 3, threshold = 0.9, dfCap = 10).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(1L))
    assert(flagged.head.getDouble(1) == 1.0)
    assert(flagged.head.getLong(2) == 100L)
    // a benchmark doc made ONLY of >dfCap boilerplate shingles is the
    // documented miss: every corpus doc shares its shingles → df > cap
    val boilerCorpus = docsDF((1L to 12L).map(i => i -> "common words here always").toSeq: _*)
    val boilerBench = docsDF(200L -> "common words here always")
    val none = Decontaminate.flagFuzzyRare(boilerCorpus, boilerBench,
      "doc_id", "text", shingleSize = 3, threshold = 0.5, dfCap = 10).collect()
    assert(none.isEmpty)
  }

  test("fuzzy decontamination: benchmark-side containment flags an embedded item") {
    // corpus doc 1 fully embeds the short benchmark item 100 inside a
    // longer doc: |C∩B|/|B| = 1.0 even though |C∩B|/|C| would be small.
    // shingleSize=1 + bands=numHashes keeps banding recall out of the
    // way so the test isolates the verify formula.
    val corpus = docsDF(
      1L -> ("the quick brown fox jumps over the lazy dog " +
        "padding alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"),
      2L -> "completely unrelated text about databases and queries")
    val bench = docsDF(100L -> "the quick brown fox jumps over the lazy dog")
    val flagged = Decontaminate.flagFuzzy(corpus, bench, "doc_id", "text",
      numHashes = 16, bands = 16, shingleSize = 1, threshold = 0.9).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(1L))
    assert(flagged.head.getDouble(1) == 1.0) // containment vs the benchmark set
    assert(flagged.head.getLong(2) == 100L)
  }

  test("lsh bucket cap drops degenerate buckets, keeps small-bucket pairs") {
    import spark.implicits._
    // 60 identical boilerplate docs (every band bucket degenerate) plus
    // one near-dup pair of distinct docs (small buckets)
    val boiler = (0 until 60).map(i =>
      (100L + i, "click here to accept cookies and continue to the site"))
    val pair = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5,
      maxBucket = 10).collect()
    // the boilerplate clique (60*59/2 = 1770 pairs) is gone; the real
    // near-dup pair survives in its own small buckets
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // the capped result is a subset of the uncapped one
    val full = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5).collect()
    assert(full.length == 1770 + 1)
  }

  test("perplexity buckets split each group into equal-depth thirds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog sat on the mat", "en"),
      (3L, "the cat and the dog sat", "en"),
      (4L, "the mat the cat the dog", "en"),
      (5L, "a cat sat near the dog", "en"),
      (6L, "dogs and cats sat around", "en"),
      (7L, "zxqv wvut qpozam vrilk xenoth", "en"), // unique tokens → worst NLL
      (8L, "bonjour le monde", "fr"),
      (9L, "le monde est bonjour", "fr")
    ).toDF("doc_id", "text", "lang")
    val b = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang")
      .select(col("id"), col("lang"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val en = b.filter(_._2 == "en")
    // NTILE(3) over 7 rows → 3/2/2 (earlier buckets take the remainder)
    assert(en.count(_._3 == "head") == 3)
    assert(en.count(_._3 == "middle") == 2)
    assert(en.count(_._3 == "tail") == 2)
    // the all-unique-token doc has the highest mean NLL → tail
    assert(en.find(_._1 == 7L).get._3 == "tail")
    // the 2-doc group splits head/middle (tail empty — NTILE semantics)
    val fr = b.filter(_._2 == "fr").map(_._3).sorted.toSeq
    assert(fr == Seq("head", "middle"))
  }

  test("PII scrub replaces emails and long digit runs, keeps the rest") {
    val df = docsDF(
      1L -> "contact me at jane.doe+spam@example.co.uk or call 1234567890 now",
      2L -> "short numbers 12345 stay, version 1.2.3 stays")
    val out = df.select(col("doc_id"),
      TextAnalysis.scrubPii(col("text")).as("s")).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "contact me at <EMAIL> or call <NUM> now")
    assert(out(1).getString(1) == "short numbers 12345 stay, version 1.2.3 stays")
  }

  test("k-means centroids: deterministic, Lloyd-monotone, full coverage") {
    // 3 planted clusters near orthogonal axes, 8 points each
    val pts = for {
      c <- 0 until 3; i <- 0 until 8
    } yield {
      val base = Array.fill(6)(0.05 * ((c * 31 + i) % 7))
      base(c * 2) = 10.0 + i * 0.01 // dominant axis per cluster
      (c * 8 + i).toLong -> base.toSeq
    }
    val df = pts.toDF("vec_id", "embedding")
    val cent1 = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
      .orderBy("cell").collect().map(_.getSeq[Double](1))
    val cent2 = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
      .orderBy("cell").collect().map(_.getSeq[Double](1))
    assert(cent1.toSeq == cent2.toSeq) // deterministic
    assert(cent1.length == 3)
    // Lloyd monotonicity: training never degrades total assignment
    // quality (sum over points of cosine to the nearest centroid)
    def quality(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(df, "vec_id", "embedding", cents, "cell", "centv")
        .join(cents, "cell")
        .select(sum(graft.functions.VectorExpressions
          .cosine_native(col("cv"), col("centv"))))
        .head().getDouble(0)
    val seeds = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 3, iters = 0)
    val trained = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
    assert(quality(trained) >= quality(seeds) - 1e-9)
    // every point gets exactly one cell
    assert(Similarity.ivfAssign(df, "vec_id", "embedding", trained, "cell", "centv")
      .count() == 24)
  }

  test("scalar quantization: codes in range, reconstruction error bounded, top-1 preserved") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.2)),
      (1L, Array(0.9, 0.1, 0.0, 0.2)),   // near query 0
      (2L, Array(-1.0, 5.0, 3.0, -2.0)), // far
      (3L, Array(0.0, 0.0, 1.0, 7.0)))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val qz = Similarity.scalarQuantize(df, "vec_id", "embedding")
    val rows = qz.orderBy("id").collect()
    rows.foreach { r =>
      val codes = r.getSeq[Long](3)
      assert(codes.forall(c => c >= 0 && c <= 255))
      // max reconstruction error = one quantization cell
      val mn = r.getDouble(1); val sc = r.getDouble(2)
      val recon = codes.map(c => mn + (c + 0.5) * sc)
      val orig = vecs(r.getLong(0).toInt)._2
      recon.zip(orig).foreach { case (a, b) => assert(math.abs(a - b) <= sc) }
    }
    // asymmetric search still ranks the near-duplicate first
    val top = Similarity.sqTopK(df.where(col("vec_id") === 0), qz, "vec_id", "embedding", k = 1)
      .head()
    assert(top.getAs[Long]("corpus_id") == 1L)
  }

  test("product quantization: codes valid, identical vectors share codes, self-codebook exact") {
    // 8 vectors of dim 8 → m=2 subspaces of 4, k=4 centroids
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).abs * 10).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, k = 4)
    assert(cb.length == 2 * 4 * 4)
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb, m = 2, k = 4)
    val rows = enc.orderBy("id").collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 2 && codes.forall(c => c >= 0 && c < 4))
    }
    // a vector that IS a sampled centroid reconstructs its own subvectors
    // exactly (distance 0 to itself beats every other centroid)
    val enc2 = Similarity.pqEncode(df, "vec_id", "embedding", cb, m = 2, k = 4)
    assert(enc.orderBy("id").collect().toSeq == enc2.orderBy("id").collect().toSeq) // deterministic
    // duplicate vectors get identical codes
    val dup = (vecs ++ Seq((8L, vecs.head._2))).toDF("vec_id", "embedding")
    val de = Similarity.pqEncode(dup, "vec_id", "embedding", cb, m = 2, k = 4)
      .where(col("id").isin(0L, 8L)).select("codes").collect()
    assert(de(0).getSeq[Int](0) == de(1).getSeq[Int](0))
  }

  test("repetition metrics: hand-computed bigram fractions") {
    // "a a a b": bigrams (a a),(a a),(a b) → n=3, distinct 2/3, top 2/3
    val r = TextAnalysis.repetition(docsDF(1L -> "a a a b"), "doc_id", "text").head()
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Double]("distinct_frac") == 0.666667)
    assert(r.getAs[Double]("top_frac") == 0.666667)
    // single-token doc yields no row
    assert(TextAnalysis.repetition(docsDF(2L -> "only"), "doc_id", "text").count() == 0)
  }

  test("bm25: idf ranks the rarer term, length normalization, hand-checked score") {
    // 'rare' in 1 doc, 'common' in all 4; doc 1 is twice as long
    val df = docsDF(
      1L -> "rare common common pad pad pad pad pad",
      2L -> "common pad pad",
      3L -> "common rare pad",
      4L -> "common pad pad")
    val out = TextAnalysis.bm25TopK(df, "doc_id", "text",
      queries = Seq("q" -> "rare common"), k = 4)
      .orderBy("rnk").collect()
    // docs containing 'rare' (1 and 3) must outrank docs with only
    // 'common'; between them the SHORTER doc 3 wins (length norm)
    assert(out.map(_.getLong(2)).take(2).toSeq == Seq(3L, 1L))
    // hand-check doc 3's score: N=4, dl=3, avgdl=(8+3+3+3)/4=4.25
    // idf_rare = ln(1+(4-2+.5)/(2+.5)) = ln(2), idf_common = ln(1+(4-4+.5)/(4+.5))
    val k1 = 1.2; val b = 0.75
    def term(idf: Double, tf: Double, dl: Double) =
      idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 4.25))
    val expected = BigDecimal(
      term(math.log(2.0), 1, 3) + term(math.log(1 + 0.5 / 4.5), 1, 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Double]("score") == expected)
  }

  test("bm25: repeated query terms count once; k truncates; ties break by doc id") {
    val df = docsDF(1L -> "a b", 2L -> "a b", 3L -> "c")
    val out = TextAnalysis.bm25TopK(df, "doc_id", "text",
      queries = Seq("q" -> "a a b"), k = 1).collect()
    assert(out.length == 1 && out(0).getLong(2) == 1L) // tie 1 vs 2 → min id
    val both = TextAnalysis.bm25TopK(df, "doc_id", "text",
      queries = Seq("q" -> "a"), k = 5).collect()
    assert(both.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L)) // doc 3 never scores
  }

  test("bm25 plan: zero corpus shuffle — no joins, only the top-k exchange") {
    val df = docsDF(1L -> "a b", 2L -> "a c")
    val plan = TextAnalysis.bm25TopK(df, "doc_id", "text",
      queries = Seq("q" -> "a b"), k = 2)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"fused bm25 must not join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly the query-partitioned top-k exchange, got $exchanges:\n$plan")
  }

  test("bm25 fused pass is value-identical to the exploded-join formulation") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val df = docsDF((1L to 200L).map(i =>
      i -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")): _*)
    val queries = Seq("q1" -> "a b", "q2" -> "g h c", "q3" -> "zz a")
    val k1 = 1.2; val b = 0.75; val k = 10
    val fused = TextAnalysis.bm25TopK(df, "doc_id", "text", queries, k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the pre-fusion shape: explode tokens, broadcast-join terms,
    // aggregate tf, join df_docs + dl, score, rank
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "term")
    val words = df.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
    val tf = words.join(broadcast(qterms.select(col("term")).distinct()),
        col("word") === col("term")).drop("term")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("word")).agg(count(lit(1)).as("df_docs"))
    val dl = df.select(col("doc_id"),
      size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = totals.getLong(0); val avgdl = totals.getLong(1).toDouble / nDocs
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df_docs") + 0.5) / (col("df_docs") + 0.5))
    val contrib = idf * col("tf") * (k1 + 1) /
      (col("tf") + (lit(1 - b) + col("dl") * (b / avgdl)) * k1)
    val scored = tf.join(broadcast(dfc), "word").join(dl, "doc_id")
      .join(broadcast(qterms), col("word") === col("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(contrib), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    val joined = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(1),
        r.getDouble(2))).toSet
    assert(fused == joined)
  }

  test("salted aggregation equals the direct group-by on a skewed frame") {
    // 10k rows on one hot key + 100 on a cold key
    val df = spark.range(10100).select(
      when(col("id") < 10000, lit("hot")).otherwise(lit("cold")).as("k"),
      pmod(col("id"), lit(7L)).as("u"), col("id").as("rid"),
      (col("id") % 13).cast("double").as("v"))
    val salted = Skew.saltedAgg(df, Seq(col("k")), col("rid"), salts = 16,
      Seq(Skew.Measure("n_u", collect_set(col("u")),
        c => size(array_distinct(flatten(collect_list(c)))).cast("long")),
        Skew.Measure("sum_v", sum(col("v")), c => sum(c)),
        Skew.Measure("n", count(lit(1)), c => sum(c))))
      .orderBy("k").collect()
    val direct = df.groupBy(col("k"))
      .agg(countDistinct(col("u")).as("n_u"), sum(col("v")).as("sum_v"),
        count(lit(1)).as("n"))
      .orderBy("k").collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq)
  }

  test("minhash signatures identical for identical shingle sets, differ otherwise") {
    val df = docsDF(1L -> "x y z w", 2L -> "x y z w", 3L -> "q r s t")
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", numHashes = 8)
      .select("id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    assert(sig(1L).forall(h => h >= 0 && h < Dedup.MinhashP))
  }

  test("minhashLsh finds the duplicate pair with jaccard 1.0") {
    val df = docsDF(1L -> "x y z w v u t s", 2L -> "x y z w v u t s", 3L -> "a b c d e f g h")
    val out = Dedup.minhashLsh(df, "doc_id", "text", 16, 4, 3, 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("minhashLshAgainst equals the within-corpus pairs across the split") {
    // 40 docs, near-dup pairs planted every 4 ids; batch = id % 5 == 0
    val docs = (1L to 40L).map(i =>
      (i, s"body token stream w${i % 4} x${i % 4} y${i % 4} z${i % 4} " +
        s"common filler words here ${i % 4}")).toDF("doc_id", "text")
    val batch = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val idx = Dedup.minhashSignatures(corpus, "doc_id", "text",
      numHashes = 16, shingleSize = 3, bands = 4)
    val got = Dedup.minhashLshAgainst(batch, "doc_id", "text", idx,
        numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: the whole-corpus LSH restricted to batch×corpus pairs
    val whole = Dedup.minhashLsh(docs, "doc_id", "text", 16, 4, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        Seq((a, b, j), (b, a, j)) // both orientations; filter to batch side
      }.filter { case (n, c, _) => n % 5 == 0 && c % 5 != 0 }.toSet
    assert(got == whole && got.nonEmpty)
  }

  test("simhash: identical docs share hash; hamming 0 pair found") {
    val df = docsDF(1L -> "alpha beta gamma", 2L -> "alpha beta gamma", 3L -> "delta epsilon zeta")
    val hashes = df.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) != hashes(3L))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("ngram jaccard: hand-computed value") {
    // 2-gram sets: {a b, b c, c d} vs {a b, b c, c x} → J = 2/4 = 0.5
    val df = Seq((1L, "a b c d", "blk"), (2L, "a b c x", "blk")).toDF("doc_id", "text", "grp")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", col("grp"), 2, 0.1).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 0.5)
  }

  test("degenerate text inputs do not crash and yield sane values") {
    val df = docsDF(1L -> "", 2L -> "!!! ??? ...", 3L -> "单 词 测 试", 4L -> "one")
    val stats = df.select(col("doc_id"),
      TextAnalysis.wordCount(col("text")).as("w"),
      TextAnalysis.tokenEstimate(col("text")).as("te"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    assert(stats(0).getAs[Long]("w") == 0 && stats(0).getAs[Long]("te") == 0)
    assert(stats(1).getAs[Long]("te") == 0) // punctuation-only → no tokens
    assert(stats(2).getAs[Long]("w") == 4)  // unicode letters are tokens
    assert(stats.forall(r => r.getAs[Double]("q") >= 0.0 && r.getAs[Double]("q") <= 1.0))
    assert(stats(0).getAs[String]("lang") == "und")
    // fingerprint of empty token stream is the seed
    assert(stats(0).getAs[Long]("fp") == 7L)
    // dedup ops tolerate empty/short docs: only the 4-token unicode doc
    // clears the 3-shingle threshold
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 4, 3)
    assert(sigs.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("bigramLm: positional counts, cutoff, conditional MLE") {
    val docs = Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "the cat ran")).toDF("doc_id", "text")
    val lm = TextAnalysis.bigramLm(docs, "text", minCount = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // "the cat" appears 3 times; "the" appears 3 times → p = 1.0
    assert(lm(("the", "cat")) == ((3L, 3L, 1.0)))
    // everything else is below the cutoff of 2
    assert(lm.size == 1)
    val all = TextAnalysis.bigramLm(docs, "text", minCount = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(4))).toMap
    // "cat" occurs 3 times: → sat, mat(terminal doesn't pair), ran;
    // pairs are positional: cat→sat 1/3, cat→ran 1/3, cat→mat 1/3
    // p is rounded to 6 decimals by the operator
    assert(all(("cat", "sat")) == 0.333333)
    assert(all(("cat", "ran")) == 0.333333)
    assert(all(("cat", "mat")) == 0.333333)
  }

  test("normalizeText folds typography and collapses whitespace") {
    val out = Seq(
      "“Smart” ‘quotes’ — and nbsp",
      "tabs\t\tand   runs \r\nhere",
      "  trimmed  ").toDF("text")
      .select(TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(out(0) == "\"Smart\" 'quotes' - and nbsp")
    assert(out(1) == "tabs and runs \nhere")
    assert(out(2) == "trimmed")
  }

  test("lengthBuckets: ceiling buckets, mass conservation, waste ratio") {
    val docs = Seq((1L, 1L), (2L, 32L), (3L, 33L), (4L, 64L), (5L, 0L))
      .toDF("doc_id", "n")
    val out = Packing.lengthBuckets(docs, "doc_id", col("n"), width = 32L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // bucket 32: docs with n=1, 32, 0 → 3 docs, 33 real, 96 padded
    assert(out(32L) == ((3L, 33L, 96L, math.rint((1 - 33.0 / 96) * 1e6) / 1e6)))
    // bucket 64: n=33 and n=64
    assert(out(64L)._1 == 2L && out(64L)._2 == 97L && out(64L)._3 == 128L)
    assert(out.values.map(_._2).sum == 130L) // token mass conserved
  }

  test("charEntropy: hand values, padding low, uniform high, empty zero") {
    val out = Seq("aaaa", "ab", "abcd", "", "aab")
      .toDF("text")
      .select(col("text"), TextAnalysis.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("aaaa") == 0.0)           // single symbol: no information
    assert(math.abs(out("ab") - 1.0) < 1e-12)   // fair coin
    assert(math.abs(out("abcd") - 2.0) < 1e-12) // uniform over 4
    assert(out("") == 0.0)
    // H(1/3, 2/3) = log2(3) - 2/3
    assert(math.abs(out("aab") - (math.log(3) / math.log(2) - 2.0 / 3)) < 1e-12)
  }

  test("langId picks profile by stopword ratio, ties deterministic") {
    val en = docsDF(1L -> "the cat and the dog of it")
    assert(en.select(TextAnalysis.langId(col("text"))).head().getString(0) == "en")
    val de = docsDF(2L -> "der hund und die katze ist nicht da")
    assert(de.select(TextAnalysis.langId(col("text"))).head().getString(0) == "de")
  }

  test("asof join: hand case incl. no-match and equal-time inclusivity") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L))
      .toDF("lid", "k", "t")
    val right = Seq((10L, 100L, 1.0), (10L, 150L, 2.0), (99L, 1L, 9.0))
      .toDF("rk", "rt", "payload")
    val out = AsOf.join(left, right, col("k"), col("rk"), col("t"), col("rt"),
      Seq("rt", "payload"))
      .orderBy("lid").collect()
    // lid=1 t=100: right at rt=100 (inclusive <=) → payload 1.0
    assert(out(0).getAs[Double]("payload") == 1.0)
    // lid=2 t=200: latest rt=150 → 2.0
    assert(out(1).getAs[Double]("payload") == 2.0)
    // lid=3 key=20: no right rows → null
    assert(out(2).isNullAt(out(2).fieldIndex("payload")))
  }

  test("property: lineDedup emits each distinct line exactly once") {
    import org.scalacheck.Gen
    val lineGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "", "alpha beta")
    val docGen = for {
      n <- Gen.choose(1, 5)
      ls <- Gen.listOfN(n, lineGen)
    } yield ls.mkString("\n")
    val texts = (1 to 40).flatMap(i =>
      docGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i))
        .map(i.toLong -> _))
    val df = docsDF(texts: _*)
    val out = Dedup.lineDedup(df, "doc_id", "text").collect()
    // every document survives
    assert(out.length == texts.length)
    // invariant 1: the multiset of kept lines = the set of distinct lines
    val keptLines = out.flatMap(r =>
      if (r.getString(1).isEmpty && r.getLong(2) == 0) Nil
      else r.getString(1).split("\n", -1).toSeq)
    val allLines = texts.flatMap(_._2.split("\n", -1))
    assert(keptLines.sorted.toSeq == allLines.distinct.sorted)
    // invariant 2: kept + removed counts cover every input line
    assert(out.map(r => r.getLong(2) + r.getLong(3)).sum == allLines.length)
    // invariant 3: each doc's kept lines are a subsequence of its input
    val byId = texts.toMap
    out.foreach { r =>
      val orig = byId(r.getLong(0)).split("\n", -1).toSeq
      val kept = if (r.getLong(2) == 0) Nil
        else r.getString(1).split("\n", -1).toSeq
      var i = 0
      kept.foreach { l =>
        i = orig.indexOf(l, i)
        assert(i >= 0, s"kept line '$l' out of order for doc ${r.getLong(0)}")
        i += 1
      }
    }
  }

  test("lineDedup keeps first occurrence corpus-wide, reassembles in order") {
    val df = docsDF(
      1L -> "alpha\nboiler\ngamma",
      2L -> "boiler\ndelta",          // "boiler" first seen in doc 1 → dropped
      3L -> "same\nsame\nend",        // in-doc repeat → second "same" dropped
      4L -> "boiler")                 // whole doc removed → empty clean_text
    val out = Dedup.lineDedup(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("alpha\nboiler\ngamma", "delta", "same\nend", ""))
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((3L, 0L), (1L, 1L), (2L, 1L), (0L, 1L)))
    // no document disappears even when fully deduplicated
    assert(out.length == 4)
  }

  test("IVF layout: cell-partitioned corpus prunes probes at the scan") {
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.9 + d * 0.8)))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding",
      cents, "cell", "centv")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf")
      .resolve("corpus").toString
    // the production layout: one directory per IVF cell
    assigned.write.partitionBy("cell").parquet(dir)
    val stored = spark.read.parquet(dir)
    // a probe's cell filter reaches the scan as a PARTITION filter —
    // unprobed cells are never read (the claim in Similarity's docs)
    val pruned = stored.where(col("cell") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected partition pruning on cell:\n$scan")
    // and the stored layout serves the same search results
    val q = vecs.where(col("vec_id") < 2)
    val fromStore = Similarity.ivfTopK(q, stored, "vec_id", "embedding",
      cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val fromMem = Similarity.ivfTopK(q, assigned, "vec_id", "embedding",
      cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(fromStore == fromMem)
  }

  test("IVF append-after-train: stored index grows without retraining") {
    val all = (0L until 40L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.9 + d * 0.8)))
    }.toDF("vec_id", "embedding")
    val base = all.where(col("vec_id") < 30)
    val late = all.where(col("vec_id") >= 30)
    // centroids are trained ONCE, on the base corpus — the index invariant
    val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding", k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append")
      .resolve("index").toString
    Similarity.ivfAssign(base, "vec_id", "embedding", cents, "cell", "centv")
      .repartition(col("cell")).write.partitionBy("cell").parquet(dir)
    Similarity.ivfAppendStored(late, dir, "vec_id", "embedding", cents, "cell", "centv")
    val stored = spark.read.parquet(dir)
    assert(stored.count() == 40)
    // the appended index answers exactly like a fresh in-memory
    // assignment of the FULL corpus against the same frozen centroids
    val q = all.where(col("vec_id") < 2)
    val fromStore = Similarity.ivfTopKStored(q, stored, "vec_id", "embedding",
        cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val fromMem = Similarity.ivfTopK(q,
        Similarity.ivfAssign(all, "vec_id", "embedding", cents, "cell", "centv"),
        "vec_id", "embedding", cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(fromStore == fromMem)
    // repartition(cell)-first: one append adds at most ONE file per
    // touched cell dir (build + append → ≤2 data files per cell)
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { cd =>
      val n = cd.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 2, s"${cd.getName} has $n data files after one append")
    }
  }

  test("ivfPqTopK with all cells probed equals flat pqTopK") {
    // 24 deterministic 8-dim vectors; m=4 subspaces × k=4 codewords
    val vecs = (0L until 24L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 3.7 + d * 1.3) + 0.1 * d))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 4, k = 4)
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
    val queries = vecs.where(col("vec_id") < 3)
    val flat = Similarity.pqTopK(queries,
        Similarity.pqEncode(vecs, "vec_id", "embedding", cb, m = 4, k = 4),
        "vec_id", "embedding", cb, m = 4, k = 4, topK = 4)
      .orderBy("query_id", "rnk").collect()
    // nprobe = ncells → no pruning → identical to the flat PQ search
    val composed = Similarity.ivfPqTopK(queries, vecs,
        "vec_id", "embedding", "vec_id", "embedding",
        cents, "cell", "centv", cb, m = 4, k = 4, topK = 4, nprobe = 3)
      .orderBy("query_id", "rnk").collect()
    assert(composed.map(_.toSeq).toSeq == flat.map(_.toSeq).toSeq)
    // pruned probe returns a subset ranking: k rows per query, valid cos
    val pruned = Similarity.ivfPqTopK(queries, vecs,
        "vec_id", "embedding", "vec_id", "embedding",
        cents, "cell", "centv", cb, m = 4, k = 4, topK = 4, nprobe = 1)
      .collect()
    assert(pruned.nonEmpty && pruned.forall(r => math.abs(r.getDouble(3)) <= 1.0))
  }

  test("rerankExact over full-coverage candidates equals brute force") {
    val vecs = (0L until 30L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 2.3 + d * 0.9) + 0.05 * d))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 4, k = 4)
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
    val queries = vecs.where(col("vec_id") < 3)
    // recall stage: ADC candidates with EVERY cell probed and candK =
    // corpus size → full coverage, so exact rerank must reproduce the
    // brute-force ranking bit-for-bit (quantization error only ever
    // moves recall, never the refined ordering)
    val cands = Similarity.ivfPqTopK(queries, vecs,
      "vec_id", "embedding", "vec_id", "embedding",
      cents, "cell", "centv", cb, m = 4, k = 4, topK = 30, nprobe = 3)
    val refined = Similarity.rerankExact(cands, queries, vecs,
        "vec_id", "embedding", "vec_id", "embedding", candK = 30, topK = 5)
      .orderBy("query_id", "rnk")
    val brute = Similarity.bruteForceTopK(queries, vecs,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rnk")
    assert(refined.select("query_id", "rnk", "corpus_id", "cos")
      .collect().map(_.toSeq).toSeq == brute.collect().map(_.toSeq).toSeq)
    // the ADC score rides along for recall diagnostics and is a valid cosine
    assert(refined.collect().forall(r => math.abs(r.getDouble(4)) <= 1.0 + 1e-9))
    // refine-stage plan shape: the queries×candK candidate list is the
    // BROADCAST side of the raw-vector join — the corpus never shuffles
    // for the rerank
    val plan = refined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast candidate join in rerank plan:\n$plan")
  }

  test("stored IVF/IVFADC layouts: probes read only their cell partitions") {
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.9 + d * 0.8)))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 4, k = 4)
    val queries = vecs.where(col("vec_id") < 2)

    def writeRead(df: org.apache.spark.sql.DataFrame, tag: String) = {
      val dir = java.nio.file.Files.createTempDirectory(tag).resolve("c").toString
      df.write.partitionBy("cell").parquet(dir)
      spark.read.parquet(dir)
    }
    val storedAssigned = writeRead(
      Similarity.ivfAssign(vecs, "vec_id", "embedding", cents, "cell", "centv"),
      "graft-ivf-stored")
    val storedEncoded = writeRead(
      Similarity.ivfPqEncode(vecs, "vec_id", "embedding",
        cents, "cell", "centv", cb, m = 4, k = 4),
      "graft-ivfpq-stored")

    // the stored-path searches equal their in-memory counterparts
    val ivfStored = Similarity.ivfTopKStored(queries, storedAssigned,
        "vec_id", "embedding", cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk")
    val ivfMem = Similarity.ivfTopK(queries,
        Similarity.ivfAssign(vecs, "vec_id", "embedding", cents, "cell", "centv"),
        "vec_id", "embedding", cents, "cell", "centv", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk")
    assert(ivfStored.collect().map(_.toSeq).toSeq == ivfMem.collect().map(_.toSeq).toSeq)

    val pqStored = Similarity.ivfPqSearchStored(queries, storedEncoded,
        "vec_id", "embedding", cents, "cell", "centv",
        cb, m = 4, k = 4, topK = 3, nprobe = 2)
      .orderBy("query_id", "rnk")
    val pqMem = Similarity.ivfPqTopK(queries, vecs,
        "vec_id", "embedding", "vec_id", "embedding",
        cents, "cell", "centv", cb, m = 4, k = 4, topK = 3, nprobe = 2)
      .orderBy("query_id", "rnk")
    assert(pqStored.collect().map(_.toSeq).toSeq == pqMem.collect().map(_.toSeq).toSeq)

    // the probed cell set is a strict subset, applied as a STATIC
    // partition filter: the scan plans fewer files than the full layout
    val cells = Similarity.probedCellSet(queries, "vec_id", "embedding",
      cents, "cell", "centv", nprobe = 2)
    val totalCells = storedEncoded.select("cell").distinct().count()
    assert(cells.size < totalCells, "probe must prune at least one cell")
    // the exact frame the stored search scans (probe filter over the
    // layout) — a bare filter plan, so the scan node is inspectable
    val prunedRead = storedEncoded.where(col("cell").isin(cells: _*))
    val scan = prunedRead.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.map(_.toString).exists(_.contains("cell")),
      s"expected a cell partition filter, got: ${scan.partitionFilters}")
    // partition dirs actually planned = probed cells only — unprobed
    // cell directories are never read
    val scannedParts = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).length
    assert(scannedParts == cells.size,
      s"planned $scannedParts cell dirs, probed ${cells.size}")
  }

  test("weightedQuota: deterministic, favors heavy weights, exact under k") {
    val df = (1L to 400L).map(i => ("s", i, if (i <= 40) 10.0 else 0.5))
      .toDF("g", "id", "wt")
    val out = Sampling.weightedQuota(df, col("g"), col("id"), col("wt"), k = 50)
    val ids = out.collect().map(_.getLong(1)).toSet
    // heavy rows (10% of pop at 20x weight) dominate the sample
    assert(ids.count(_ <= 40L) > 25)
    // reproducible: the subset is a pure function of (key, weight)
    val again = Sampling.weightedQuota(df, col("g"), col("id"), col("wt"), 50)
      .collect().map(_.getLong(1)).toSet
    assert(again == ids)
    // stratum smaller than k keeps every row
    val small = (1L to 5L).map(i => ("t", i, 1.0)).toDF("g", "id", "wt")
    assert(Sampling.weightedQuota(small, col("g"), col("id"), col("wt"), 50)
      .count() == 5L)
  }

  test("KMV sketch: exact under k, calibrated over k, duplicate-invariant") {
    val df = (1L to 1000L).map(i => (if (i <= 30) "small" else "big", i))
      .toDF("g", "u")
    val out = Sketches.kmvDistinct(df, col("g"), col("u"), k = 64).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("small") == 30.0) // below k → exact count
    assert(math.abs(out("big") - 970.0) / 970.0 < 0.3) // k=64 → ~±12% σ
    // a sketch is a pure function of the SET: duplicates change nothing
    val dup = Sketches.kmvDistinct(df.union(df), col("g"), col("u"), 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dup == out)
  }

  test("pagerank: cycle uniform, star concentrates, dangling redistributes") {
    import graft.ops.LinkGraph
    // directed 5-cycle: perfectly symmetric, every rank is exactly 1/5
    val cycle = (0L to 4L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val cr = LinkGraph.pagerank(cycle, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cr.values.foreach(v => assert(math.abs(v - 0.2) < 1e-12))
    // star: 6 leaves all pointing at node 0 — the hub dominates, mass
    // conserved at 1 (dangling hub redistributes everywhere)
    val star = (1L to 6L).map(i => (i, 0L)).toDF("src", "dst")
    val sr = LinkGraph.pagerank(star, 0.85, 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sr.values.sum - 1.0) < 1e-9, s"mass ${sr.values.sum}")
    assert(sr(0L) > 0.4 && sr(0L) > 3 * sr(1L), s"hub ${sr(0L)} leaf ${sr(1L)}")
    // leaves are symmetric
    assert((2L to 6L).forall(i => math.abs(sr(i) - sr(1L)) < 1e-12))
    // duplicate edges and self-loops don't change the graph
    val noisy = star.union(star).union(Seq((3L, 3L)).toDF("src", "dst"))
    val nr = LinkGraph.pagerank(noisy, 0.85, 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nr == sr)
  }

  test("bfs frontier: exact hop layers, settled wins, early stop") {
    import graft.ops.LinkGraph
    // 1→2→3→4→5 chain + a shortcut 1→3: layer distances are minimal
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("n")
    val d = LinkGraph.bfs(e, seeds, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // shortcut beats the chain: 3 is at hop 1, so 4 at 2, 5 at 3
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // maxHops truncates the frontier
    val d1 = LinkGraph.bfs(e, seeds, maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d1 == Map(1L -> 0, 2L -> 1, 3L -> 1))
    // cycles settle at first visit; exhausted frontiers stop early
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val dc = LinkGraph.bfs(cyc, seeds, maxHops = 10).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dc == Map(1L -> 0, 2L -> 1))
  }

  test("quantile sketch: exact under s, rank-calibrated over s, merge law") {
    // exact: a group with n <= s rows IS the sample → type-1 quantile
    val small = (1L to 100L).map(i => ("t", i, i.toDouble)).toDF("g", "id", "v")
    val se = Sketches.qsampleQuantile(small, col("g"), col("id"), col("v"),
      s = 128, qs = Seq(0.5, 0.9, 1.0)).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(se == Map(0.5 -> 50.0, 0.9 -> 90.0, 1.0 -> 100.0))

    // calibrated: 10k known-rank values, s=256 → DKW rank error well
    // under 3σ = 3/(2·sqrt(256)) ≈ 0.094 for this fixed seedless hash
    val big = (1L to 10000L).map(i => ("b", i, i.toDouble)).toDF("g", "id", "v")
    val be = Sketches.qsampleQuantile(big, col("g"), col("id"), col("v"),
      s = 256, qs = Seq(0.25, 0.5, 0.9)).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    be.foreach { case (q, est) =>
      assert(math.abs(est / 10000.0 - q) < 0.1, s"q=$q est=$est") }

    // merge law: bottom-s partials from an arbitrary split re-take to
    // EXACTLY the one-shot sketch — and partitioning never matters
    val h1 = Sketches.qsampleBottomK(big.where(col("id") % 3 === 0),
      col("g"), col("id"), col("v"), s = 256)
    val h2 = Sketches.qsampleBottomK(big.where(col("id") % 3 =!= 0),
      col("g"), col("id"), col("v"), s = 256)
    val merged = Sketches.qsampleQuantiles(h1.union(h2), s = 256,
      qs = Seq(0.25, 0.5, 0.9)).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(merged == be)
    val reparted = Sketches.qsampleQuantile(big.repartition(7),
      col("g"), col("id"), col("v"), s = 256, qs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(reparted == be)
  }

  test("heavy hitters: exact top-k under the MG bound, any partitioning") {
    // zipf-ish: key j appears 1000/j times in group "w"; a long uniform
    // tail in the same group stresses the decrement path (m << tail)
    val heavy = (1 to 20).flatMap(j => Seq.fill(1000 / j)(("w", s"k$j")))
    val tail = (1 to 3000).map(i => ("w", s"tail$i"))
    val expected = (1 to 10).map(j => (s"k$j", (1000 / j).toLong))
    for (parts <- Seq(1, 7)) {
      val df = spark.sparkContext
        .parallelize(new scala.util.Random(7).shuffle(heavy ++ tail), parts)
        .toDF("g", "u")
      val got = Sketches.heavyHitters(df, col("g"), col("u"), k = 10, m = 256)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getString(1), r.getLong(2)))
      assert(got.toSeq == expected, s"parts=$parts")
    }
    // ties break lexicographically: three keys at the same count
    val ties = Seq.fill(5)(Seq(("t", "b"), ("t", "a"), ("t", "c"))).flatten
    val gt = Sketches.heavyHitters(ties.toDF("g", "u"), col("g"), col("u"),
      k = 2, m = 16).orderBy(col("rnk")).collect().map(_.getString(1))
    assert(gt.toSeq == Seq("a", "b"))
  }

  test("HLL sketch: calibrated, duplicate-invariant, linear-counting floor") {
    val df = (1L to 5000L).map(i => (if (i <= 12) "tiny" else "big", i))
      .toDF("g", "u")
    val out = Sketches.hllDistinct(df, col("g"), col("u"), m = 64).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // m=64 → σ ≈ 1.04/sqrt(64) = 13%; allow 3σ
    assert(math.abs(out("big") - 4988.0) / 4988.0 < 0.4, s"big est ${out("big")}")
    // 12 distinct keys over 64 registers → the linear-counting branch,
    // which cannot exceed m*ln(m) and must be in the right ballpark
    assert(out("tiny") > 3.0 && out("tiny") < 40.0, s"tiny est ${out("tiny")}")
    // registers are max-merged: duplicates change nothing
    val dup = Sketches.hllDistinct(df.union(df), col("g"), col("u"), 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dup == out)
  }

  test("maskDuplicatedSpans: first doc keeps the span, later docs lose it") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),         // first occurrence
      (2L, "intro alpha beta gamma delta epsilon outro"),  // loses the span
      (3L, "totally unrelated words with no overlap here") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicatedSpans(df, "doc_id", "text", spanTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 is the min doc for every shared window → untouched
    assert(out(1L) == ("alpha beta gamma delta epsilon zeta", 6L, 0L))
    // doc 2 shares windows "alpha..epsilon" (positions 1..5 covered by
    // the 5-token window at start 1): exactly those 5 tokens removed
    assert(out(2L) == ("intro outro", 7L, 5L))
    assert(out(3L)._3 == 0L)
    // documents shorter than one window never flag and never lose tokens
    val short = Seq((1L, "just three words"), (2L, "just three words"))
      .toDF("doc_id", "text")
    val so = Dedup.maskDuplicatedSpans(short, "doc_id", "text", 5).collect()
    assert(so.forall(_.getLong(3) == 0L))
  }

  test("bloom: no false negatives, OR-merge idempotent, sparse words") {
    val corpus = (1L to 200L).map(i => s"doc-$i").toDF("k")
    val probes = ((1L to 20L).map(i => s"doc-$i") ++
      (1L to 20L).map(i => s"absent-$i")).toDF("key")
    val bits = Sketches.bloomBits(corpus, col("k"), widthBits = 8192, numHashes = 5)
    // sparse representation: never more than widthBits/64 word rows
    assert(bits.count() <= 8192 / 62 + 1)
    val out = Sketches.bloomContains(bits, probes, 8192, 5)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every member MUST be present (no false negatives, the contract a
    // decontamination prefilter depends on)
    assert((1L to 20L).forall(i => out(s"doc-$i")))
    // at this fill ratio (5*200/8192) false positives are ~0: absentees miss
    assert((1L to 20L).count(i => out(s"absent-$i")) <= 2)
    // OR is idempotent: unioning the bitmap with itself changes nothing
    val doubled = Sketches.bloomContains(bits.union(bits), probes, 8192, 5)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(doubled == out)
  }

  test("count-min: never underestimates, exact when cells are collision-free") {
    // 3 keys with known counts; width 64 over 3 keys → no collisions in
    // practice, so estimates are exact
    val df = (Seq.fill(100)("a") ++ Seq.fill(10)("b") ++ Seq.fill(1)("c"))
      .toDF("k")
    val probes = Seq("a", "b", "c", "never-seen").toDF("key")
    val est = Sketches.cmFrequency(df, col("k"), probes, depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") == 100L && est("b") == 10L && est("c") == 1L)
    assert(est("never-seen") >= 0L) // absent key may only collide upward
    // counters are a sum-monoid: the union of two halves' counter
    // partials estimates exactly like the whole
    val h1 = (Seq.fill(60)("a") ++ Seq.fill(4)("b")).toDF("k")
    val h2 = (Seq.fill(40)("a") ++ Seq.fill(6)("b") ++ Seq.fill(1)("c")).toDF("k")
    val merged = Sketches.cmEstimate(
      Sketches.cmCounters(h1, col("k"), 4, 64)
        .union(Sketches.cmCounters(h2, col("k"), 4, 64)),
      probes, 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == est)
  }

  test("histogram quantiles: bounded by bin width, clamped edges, mergeable") {
    // uniform 1..1000 → true q-quantile = 1000q; width-8 bins bound the
    // error by one bin
    val df = (1L to 1000L).map(i => ("g", i.toDouble)).toDF("g", "v")
    val est = Sketches.histQuantiles(df, col("g"), col("v"),
        lo = 0.0, hi = 1024.0, nBins = 128, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(math.abs(est(0.5) - 500.0) <= 8.0)
    assert(math.abs(est(0.9) - 900.0) <= 8.0)
    assert(math.abs(est(0.99) - 990.0) <= 8.0)
    // out-of-range values clamp into edge bins instead of vanishing
    val out = Sketches.histQuantiles(
      Seq(("g", -5.0), ("g", 1.0), ("g", 99.0)).toDF("g", "v"),
      col("g"), col("v"), lo = 0.0, hi = 64.0, nBins = 8, qs = Seq(1.0))
      .collect()
    assert(out.length == 1 && out.head.getDouble(2) <= 64.0)
    // histograms merge by addition: a doubled corpus has identical
    // quantiles (counts scale, ranks scale with them)
    val dbl = Sketches.histQuantiles(df.union(df), col("g"), col("v"),
        lo = 0.0, hi = 1024.0, nBins = 128, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(dbl == est)
  }

  test("bucketed range join: inclusive ends, bucket crossing, equi-join plan") {
    val points = Seq((1L, 10L, "p10"), (1L, 15L, "p15"), (1L, 31L, "p31"),
      (2L, 10L, "px")).toDF("key", "t", "pid")
    val intervals = Seq((1L, 10L, 15L), (1L, 28L, 35L), (2L, 50L, 60L))
      .toDF("key", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, intervals, bucketWidth = 16L)
    val got = out.select("pid", "lo", "hi").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // both ends inclusive; [28,35] crosses the bucket boundary and still
    // matches exactly once; key 2's point has no containing interval
    assert(got == Set(("p10", 10L, 15L), ("p15", 10L, 15L), ("p31", 28L, 35L)))
    assert(out.count() == 3) // no (point, interval) pair duplicated
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // the containment join is pinned to sort-merge: Catalyst sizes the
    // interval side pre-explode, so left to itself it broadcasts a
    // fact-sized relation (slower at sf0.1, driver-bound at scale)
    assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
    val bcast = RangeJoin.pointInInterval(points, intervals,
      bucketWidth = 16L, broadcastIntervals = true)
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // LSH candidates within one corpus need no join at all: ids group
    // per bucket and expand bucket-locally (Banded.selfPairs)
    val sigs = Seq((1L, Seq(1L, 2L), Seq(10L)), (2L, Seq(1L, 2L), Seq(10L)),
      (3L, Seq(9L, 9L), Seq(11L))).toDF("id", "sig", "hs")
    val lshPlan = Dedup.lshCandidatePairs(sigs, bands = 2)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("Join"))
    assert(lshPlan.contains("HashAggregate") && lshPlan.contains("Generate"))
  }

  test("HITS separates link-soup hubs from linked-to authorities") {
    // node 0 is pure hub (links to all content), 1..4 pure authorities,
    // node 9 links only to the hub (so the hub also gets some auth)
    val edges = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (9L, 0L)))
      .toDF("src", "dst")
    val r = LinkGraph.hits(edges, iters = 10)
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    val (hub0, auth0) = r(0L)
    val (hub1, auth1) = r(1L)
    assert(hub0 > 0.9) // the soup page dominates hub mass
    assert(auth1 > auth0) // content outranks the hub as authority
    assert(hub1 == 0.0) // pure authorities link to nothing
    // normalization: each vector sums to 1
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("personalized PageRank: mass stays near seeds, unreachable nodes get zero") {
    // two disconnected components: 0->1->2->0 (seeded) and 10->11->10
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 10L))
      .toDF("src", "dst")
    val r = LinkGraph.personalizedPagerank(edges, seeds = Seq(0L),
        damping = 0.85, iters = 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // the unseeded component receives NOTHING — the defining property
    assert(r(10L) == 0.0 && r(11L) == 0.0)
    // seed component carries all the mass, seed ranked highest
    assert(math.abs(r(0L) + r(1L) + r(2L) - 1.0) < 1e-9)
    assert(r(0L) > r(1L) && r(1L) > r(2L))
    // a seed with no edges at all still appears (pure restart mass)
    val iso = LinkGraph.personalizedPagerank(edges, seeds = Seq(99L),
        damping = 0.85, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(iso(99L) > 0.9) // dangling seed: all mass returns to it
  }

  test("pcaFit recovers planted axes; projection; partition invariance") {
    // plant a 2-factor structure in 8 dims: x = a·u + b·v + tiny noise,
    // u ⟂ v, var(a)=9, var(b)=1 — the top two axes must come back as
    // ±u, ±v in that order
    val dim = 8
    val u = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val vAxis = Array(0.0, 1, 0, 0, 0, 0, 0, 0)
    val rnd = new scala.util.Random(5)
    val rows = (0 until 2000).map { _ =>
      val a = rnd.nextGaussian() * 3.0
      val b = rnd.nextGaussian() * 1.0
      Seq.tabulate(dim)(i => a * u(i) + b * vAxis(i) + rnd.nextGaussian() * 0.01)
    }
    val df = rows.toDF("v")
    val pca = Similarity.pcaFit(df, "v", k = 3)
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    // axis recovery (sign-normalized): |<c0,u>| ≈ 1, |<c1,v>| ≈ 1
    assert(math.abs(dot(pca.components(0), u)) > 0.999)
    assert(math.abs(dot(pca.components(1), vAxis)) > 0.999)
    // orthonormal components, descending explained variance
    assert(math.abs(dot(pca.components(0), pca.components(0)) - 1.0) < 1e-9)
    assert(math.abs(dot(pca.components(0), pca.components(1))) < 1e-9)
    assert(pca.explained(0) > pca.explained(1) &&
      pca.explained(1) > pca.explained(2))
    assert(math.abs(pca.explained(0) - 9.0) < 0.7) // var(a)
    assert(math.abs(pca.explained(1) - 1.0) < 0.12)
    // projection: first coordinate carries the a-factor
    val proj = Similarity.pcaProject(df, "v", pca)
      .select(col("pvec")).head().getSeq[Double](0)
    assert(proj.length == 3)
    val x0 = rows.head.toArray
    val expect0 = dot(x0.zip(pca.mean).map { case (p, m) => p - m },
      pca.components(0))
    assert(math.abs(proj.head - expect0) < 1e-9)
    // the fit is partition-layout independent (Gram partials commute up
    // to ulps; Jacobi is driver-side deterministic)
    val pca13 = Similarity.pcaFit(df.repartition(13), "v", k = 3)
    pca.components(0).zip(pca13.components(0)).foreach { case (p, q) =>
      assert(math.abs(p - q) < 1e-6) }
    assert(math.abs(pca.explained(0) - pca13.explained(0)) < 1e-6)
  }

  test("pcaBalancedProject cuts PQ quantization error on correlated data") {
    // correlated data: x = R·z with decaying axis variances and a fixed
    // dense rotation R (seeded Gram-Schmidt) — exactly the case where
    // raw-coordinate PQ subspaces quantize badly
    val dim = 16; val m = 4; val kCodes = 16
    val rnd = new scala.util.Random(9)
    val basis = {
      val raw = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
      for (i <- 0 until dim) {
        for (j <- 0 until i) {
          val d = raw(i).zip(raw(j)).map { case (a, b) => a * b }.sum
          for (t <- 0 until dim) raw(i)(t) -= d * raw(j)(t)
        }
        val n = math.sqrt(raw(i).map(x => x * x).sum)
        for (t <- 0 until dim) raw(i)(t) /= n
      }
      raw
    }
    val rows = (0 until 4000).map { i =>
      val z = Array.tabulate(dim)(d => rnd.nextGaussian() * math.pow(2.0, -d / 4.0))
      (i.toLong, Seq.tabulate(dim)(t => basis.indices.map(d => basis(d)(t) * z(d)).sum))
    }
    val df = rows.toDF("vec_id", "v")
    def mse(encodedFrom: org.apache.spark.sql.DataFrame, vecCol: String): Double = {
      val cb = Similarity.pqCodebooks(encodedFrom, "vec_id", vecCol, m, kCodes)
      val enc = Similarity.pqEncode(encodedFrom, "vec_id", vecCol, cb, m, kCodes)
      encodedFrom.select(col("vec_id").as("id"), col(vecCol).as("orig"))
        .join(enc, "id")
        .select(aggregate(zip_with(col("orig"),
            Similarity.pqRecon(col("codes"), cb, m, kCodes),
            (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x).as("e"))
        .agg(avg(col("e"))).head().getDouble(0)
    }
    val rawMse = mse(df, "v")
    val pca = Similarity.pcaFit(df, "v", k = dim)
    val balanced = Similarity.pcaBalancedProject(df, "v", pca, m)
    val balMse = mse(balanced, "pvec")
    assert(balMse < rawMse * 0.9,
      s"balanced PQ mse $balMse not below raw $rawMse by 10%")
  }

  test("variance-balanced permutation: OPQ serving path cuts PQ error") {
    // variance skew GROUPED by subspace — the worst case for raw PQ:
    // all four high-variance coordinates land in subspace 0
    val dim = 16; val m = 4; val kCodes = 16
    val rnd = new scala.util.Random(23)
    val rows = (0 until 4000).map { i =>
      (i.toLong, Seq.tabulate(dim)(t =>
        rnd.nextGaussian() * (if (t < 4) 4.0 else 0.25)))
    }
    val df = rows.toDF("vec_id", "v")
    val order = Similarity.varianceOrder(df, "v")
    // descending variance: the four wide coords lead
    assert(order.take(4).toSet == Set(0, 1, 2, 3))
    val perm = Similarity.balancedPermutation(order, m)
    assert(perm.sorted.sameElements(0 until dim)) // a true permutation
    // round-robin deal: each subspace receives exactly one wide coord
    (0 until m).foreach { j =>
      assert(perm.slice(j * (dim / m), (j + 1) * (dim / m))
        .count(_ < 4) == 1, s"subspace $j")
    }
    // permuteVec applies it exactly (pure HOF, no UDF)
    val got = Similarity.permuteVec(df.limit(1), "v", perm)
      .select(col("pvec")).head().getSeq[Double](0)
    val want = perm.map(rows.head._2)
    assert(got == want.toSeq)
    def mse(encodedFrom: org.apache.spark.sql.DataFrame, vecCol: String): Double = {
      val cb = Similarity.pqCodebooks(encodedFrom, "vec_id", vecCol, m, kCodes)
      val enc = Similarity.pqEncode(encodedFrom, "vec_id", vecCol, cb, m, kCodes)
      enc.join(encodedFrom.select(col("vec_id").as("id"),
          col(vecCol).cast("array<double>").as("ov")), "id")
        .select(Similarity.pqRecon(col("codes"), cb, m, kCodes).as("cv"),
          col("ov"))
        .select(aggregate(zip_with(col("cv"), col("ov"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("e"))
        .agg(avg(col("e"))).head().getDouble(0)
    }
    val rawMse = mse(df, "v")
    val balMse = mse(Similarity.permuteVec(df, "v", perm), "pvec")
    assert(balMse < rawMse * 0.9,
      s"balanced-permutation PQ mse $balMse not below raw $rawMse by 10%")
  }

  test("compressionRatio orders repetition below prose below noise") {
    val rep = "the same line of boilerplate text repeats here. " * 60
    val prose = "Information theory tells us natural language carries " +
      "roughly one bit per character of genuine surprise, wandering " +
      "between topics, numbers like 1848 and names like Shannon." * 3
    val noise = new scala.util.Random(11).alphanumeric.take(2000).mkString
    val got = Seq(("rep", rep), ("prose", prose), ("noise", noise), ("empty", ""))
      .toDF("k", "t")
      .select(col("k"), TextAnalysis.compressionRatio(col("t")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("rep") < 0.1) // long-range duplication collapses
    assert(got("rep") < got("prose") && got("prose") < got("noise"))
    assert(got("empty") == 1.0)
    // the ratio is EXACTLY deflated/raw at level 6 raw-deflate: check
    // one value against a direct JDK reference
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(prose.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](1 << 20)
    val n = d.deflate(buf); d.end()
    assert(math.abs(got("prose") -
      n.toDouble / prose.getBytes("UTF-8").length) < 1e-12)
  }

  test("interval overlap join: exactly-once pairs across buckets, pinned plan") {
    // [0,100] spans 7 width-16 buckets and overlaps each right interval
    // in several of them — the bucket-of-greatest-lo filter must keep
    // each pair exactly once; closed ends: [10,20]×[20,25] touches
    val left = Seq((1L, 0L, 100L, "wide"), (1L, 10L, 20L, "narrow"),
      (2L, 5L, 6L, "other")).toDF("key", "lo", "hi", "lid")
    val right = Seq((1L, 20L, 25L), (1L, 50L, 90L), (1L, 101L, 200L),
      (2L, 7L, 9L)).toDF("key", "rlo", "rhi")
    val out = RangeJoin.intervalOverlap(left, right, bucketWidth = 16L)
    val got = out.select("lid", "rlo", "rhi").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == Set(("wide", 20L, 25L), ("wide", 50L, 90L),
      ("narrow", 20L, 25L)))
    assert(got.length == 3) // multi-bucket co-coverage did not duplicate
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
    assert(RangeJoin.intervalOverlap(left, right, 16L, broadcastRight = true)
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // randomized cross-check against the quadratic definition
    val rnd = new scala.util.Random(7)
    val ls = (1 to 120).map { i =>
      val lo = rnd.nextInt(300).toLong; (rnd.nextInt(3).toLong, lo, lo + rnd.nextInt(60), s"l$i") }
    val rs = (1 to 120).map { _ =>
      val lo = rnd.nextInt(300).toLong; (rnd.nextInt(3).toLong, lo, lo + rnd.nextInt(60)) }
    val expect = (for {
      (k, lo, hi, id) <- ls; (k2, rlo, rhi) <- rs
      if k == k2 && lo <= rhi && rlo <= hi
    } yield (id, rlo, rhi)).sorted
    val fast = RangeJoin.intervalOverlap(
        ls.toDF("key", "lo", "hi", "lid"), rs.toDF("key", "rlo", "rhi"), 16L)
      .select("lid", "rlo", "rhi").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(fast == expect)
  }

  test("temperatureMix flattens a skewed histogram, downsample-only") {
    val df = ((1L to 400L).map((_, "big")) ++ (401L to 500L).map((_, "small")))
      .toDF("doc_id", "s")
    val out = Sampling.temperatureMix(df, col("s"), col("doc_id"), temperature = 2.0)
    val counts = out.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest stratum has the max factor → rate 1.0, keeps everything
    assert(counts("small") == 100L)
    // big stratum rate = (100/400)^0.5 = 0.5 → ~half kept, never upsampled
    assert(counts("big") <= 400L && math.abs(counts("big") - 200L) < 60L)
    // T = 1 is the identity mix
    assert(Sampling.temperatureMix(df, col("s"), col("doc_id"), 1.0).count() == 500L)
  }

  test("property: spanDupScore bounds hold; verbatim copies score 1.0") {
    import org.scalacheck.Gen
    val wordGen = Gen.oneOf("red", "green", "blue", "cyan", "teal", "plum",
      "rust", "sage")
    val docGen = for {
      n <- Gen.choose(1, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val base = (1 to 25).flatMap(i =>
      docGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(100 + i))
        .map(i.toLong -> _))
    // plant verbatim copies of the first 5 docs under new ids
    val texts = base ++ base.take(5).map { case (id, t) => (id + 1000L, t) }
    val out = Dedup.spanDupScore(docsDF(texts: _*), "doc_id", "text",
      spanTokens = 3).collect()
    assert(out.length == texts.length)
    out.foreach { r =>
      val (n, nd, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nd >= 0 && nd <= n) // dup spans are a subset
      assert(frac >= 0.0 && frac <= 1.0)
      assert(n > 0 || (nd == 0 && frac == 0.0)) // window-less docs score 0
    }
    // a verbatim copy with at least one 3-token window scores exactly 1.0
    val byId = out.map(r => r.getLong(0) -> r).toMap
    base.take(5).foreach { case (id, t) =>
      if (t.split(" ").length >= 3) {
        assert(byId(id).getDouble(3) == 1.0, s"original $id")
        assert(byId(id + 1000L).getDouble(3) == 1.0, s"copy of $id")
      }
    }
  }

  test("span dedup: index finds cross-doc windows; score fraction + keep") {
    val df = docsDF(
      1L -> "a b c d e f",   // 3-spans: abc bcd cde def
      2L -> "x y a b c d z", // 3-spans: xya yab abc bcd cdz
      3L -> "q r s t")       // all unique
    val idx = Dedup.spanIndex(df, "doc_id", "text", spanTokens = 3).collect()
    // "a b c" and "b c d" are shared by docs 1+2; first_doc = 1
    assert(idx.length == 2 &&
      idx.forall(r => r.getLong(1) == 2L && r.getLong(2) == 1L))
    val sc = Dedup.spanDupScore(df, "doc_id", "text",
        spanTokens = 3, maxDupFrac = 0.4)
      .orderBy("doc_id").collect()
    assert(sc.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((4L, 2L), (5L, 2L), (2L, 0L)))
    // doc1: 2/4 = 0.5 > 0.4 → drop; doc2: 2/5 = 0.4 → keep; doc3: keep
    assert(sc.map(_.getBoolean(4)).toSeq == Seq(false, true, true))
  }

  test("embeddingNearDupLsh: exact dups always collide; subset of brute force") {
    val base = (0L until 30L).map(i =>
      (i, (0 until 16).map(d => math.cos(i * 2.1 + d * 0.7))))
    val df = (base :+ ((40L, base.head._2))).toDF("id", "v") // 40 = copy of 0
    val lsh = Dedup.embeddingNearDupLsh(df, "id", "v",
        dim = 16, planesPerTable = 4, tables = 2, threshold = 0.5).collect()
    // an identical vector shares every table's bucket → always recalled
    assert(lsh.exists(r => r.getLong(0) == 0L && r.getLong(1) == 40L &&
      r.getDouble(2) == 1.0))
    // soundness: every LSH pair appears in the exact all-pairs result
    val brute = Dedup.embeddingNearDup(df, "id", "v", lit(1), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .forall(brute.contains))
  }

  test("semanticDedup: within-cluster pairs drop the centroid-closer member") {
    // two well-separated clusters around [1,0,0,0] and [0,1,0,0]
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell", "centv")
    val vecs = Seq(
      (1L, Seq(1.0, 0.01, 0.0, 0.0)),    // cluster 0, dup pair with 2, MORE central → dropped
      (2L, Seq(0.95, 0.05, 0.3, 0.0)),   // cluster 0, kept (diversity outlier)
      (3L, Seq(0.7, 0.0, 0.7, 0.0)),     // cluster 0, below tau vs both → kept
      (11L, Seq(0.0, 1.0, 0.0, 0.0)),    // cluster 1, dup pair with 12, MORE central → dropped
      (12L, Seq(0.0, 0.95, 0.0, 0.3122)),// cluster 1, kept
      (13L, Seq(0.0, 0.6, 0.8, 0.0)),    // cluster 1, below tau → kept
      (21L, Seq(0.72, 0.7, 0.0, 0.0)),   // cluster 0 …
      (22L, Seq(0.7, 0.72, 0.0, 0.0))    // … cluster 1: cos≈0.9996 but DIFFERENT
    ).toDF("id", "v")                    //   clusters → both kept (blocked search)
    val out = Dedup.semanticDedup(vecs, "id", "v", cents, "cell", "centv", tau = 0.9)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (11L, 1L), (12L, 1L), (13L, 1L),
        (21L, 0L), (22L, 1L)))
    assert(out.map(r => (r.getLong(0), r.getBoolean(3))).toMap ==
      Map(1L -> false, 2L -> true, 3L -> true,
        11L -> false, 12L -> true, 13L -> true, 21L -> true, 22L -> true))
    // centroid cosine is reported for every row, rounded to 6 decimals
    assert(out.forall(r => r.getDouble(2) > 0.5 && r.getDouble(2) <= 1.0))
  }

  test("bpe: encode applies merges greedily leftmost; training learns the planted pair") {
    // hand-checked encode under merges (t,h) then (th,e): "theta" →
    // " t h e t a " → " th e t a " → " the t a " = 3 symbols
    val enc = docsDF(1L -> "theta")
      .select(Bpe.encodeWord(lit("theta"), Seq("t" -> "h", "th" -> "e")))
      .head().getString(0)
    assert(enc == " the t a ")
    assert(docsDF(1L -> "theta ll lll")
      .select(Bpe.tokenCount(col("text"), Seq("t" -> "h", "th" -> "e", "l" -> "l")))
      .head().getLong(0) == 3 + 1 + 2)
    // "lll" under (l,l): leftmost non-overlap → " ll l " = 2 symbols
    assert(docsDF(2L -> "lll")
      .select(Bpe.encodeWord(lit("lll"), Seq("l" -> "l"))).head().getString(0)
      == " ll l ")

    // training: "ab" dominates the corpus; round 2 learns the pair that
    // extends it, proving the round-1 merge fed the round-2 counts
    val corpus = docsDF(
      1L -> "abc abc abc abd", 2L -> "abc abe xy")
    val rounds = Bpe.trainRounds(corpus, "text", 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pairs: (a,b)×6, (b,c)×4, (b,d)(b,e)(x,y)×1 → round 1: (a,b) 6
    assert(rounds(0) == (1L, "a", "b", 6L))
    // after merging: symbols "ab c"×4, "ab d", "ab e" → (ab,c) 4
    assert(rounds(1) == (2L, "ab", "c", 4L))
  }

  test("c4 filters: line keeps, page flags, and the kept digest") {
    val page = Seq(
      "This line has enough words and ends well.",   // kept
      "Too short ends.",                             // < 5 words
      "This line has enough words but no terminal punct", // no punct
      "Enable javascript to view this page now!",    // javascript line
      "Another long enough sentence closes here!").mkString("\n")
    val out = docsDF(1L -> page, 2L -> (page + "\nlorem ipsum dolor."),
        3L -> (page + "\nif (x) { return; }"))
      .select(col("doc_id"), TextAnalysis.c4Filters(col("text")).as("f"))
      .select(col("doc_id"), col("f.*")).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_lines") == 5 &&
      out(0).getAs[Long]("n_kept_lines") == 2)
    assert(!out(0).getAs[Boolean]("keep"), "only 2 kept lines, C4 needs 3")
    // the digest is over exactly the kept lines, joined in order
    val expect = java.security.MessageDigest.getInstance("MD5").digest(
      ("This line has enough words and ends well.\n" +
        "Another long enough sentence closes here!").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(out(0).getAs[String]("kept_digest") == expect)
    assert(out(1).getAs[Boolean]("has_lorem") && !out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Boolean]("has_brace") && !out(2).getAs[Boolean]("keep"))
  }

  test("gopher rules: each filter trips on its own planted violation") {
    val good = (1 to 60).map(i => s"word$i the of and").mkString(" ")
    val bullets = (1 to 10).map(_ => "• item with five words here.").mkString("\n")
    val symbols = (1 to 60).map(_ => "the of ### and").mkString(" ")
    val out = docsDF(1L -> good, 2L -> bullets, 3L -> symbols, 4L -> "tiny doc the of")
      .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.*")).orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("keep"), "clean doc must pass")
    assert(out(1).getAs[Double]("bullet_line_frac") == 1.0 &&
      !out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Double]("symbol_ratio") > 0.1 &&
      !out(2).getAs[Boolean]("keep"))
    assert(out(3).getAs[Long]("n_words") < 50 && !out(3).getAs[Boolean]("keep"))
  }

  test("dsir: grams keep multiplicity; target-like docs outweigh and win selection") {
    // grams = unigrams ++ bigrams WITH multiplicity (count mass, not sets)
    val g = docsDF(1L -> "a a b").select(Dsir.grams(col("text")))
      .head().getSeq[String](0)
    assert(g == Seq("a", "a", "b", "a a", "a b"))
    assert(docsDF(2L -> "a").select(Dsir.grams(col("text")))
      .head().getSeq[String](0) == Seq("a"))
    assert(docsDF(3L -> "").select(Dsir.grams(col("text")))
      .head().getSeq[String](0).isEmpty)

    // target corpus speaks one vocabulary; the raw pool mixes docs that
    // match it with docs from a disjoint vocabulary
    val target = docsDF(
      100L -> "solar wind turbine grid power",
      101L -> "wind power grid solar energy",
      102L -> "turbine energy solar grid wind")
    val raw = docsDF(
      1L -> "solar wind power grid energy turbine",  // target-like
      2L -> "wind turbine grid solar",               // target-like
      3L -> "cat dog bird fish lizard hamster",      // off-distribution
      4L -> "pizza pasta salad soup bread cheese")   // off-distribution
    val w = Dsir.importanceWeights(raw, target, "doc_id", "text",
      buckets = 512, alpha = 1.0)
    val byId = w.collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[Double]("logw")).toMap
    assert(Seq(1L, 2L).map(byId).min > Seq(3L, 4L).map(byId).max)

    // hard top-k (temperature 0) selects exactly the target-like docs
    val sel = Dsir.resample(raw, target, "doc_id", "text", k = 2,
      buckets = 512, alpha = 1.0, temperature = 0.0)
    assert(sel.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // rnk is 1..k dense and ordered by key desc
    val rows = sel.orderBy("rnk").collect()
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getAs[Double]("key")).toSeq.reverse.sorted.reverse ==
      rows.map(_.getAs[Double]("key")).toSeq)

    // plan shape: scoring is the FUSED doc-local expression (the
    // B-bounded ratio table rides in as a dense plan-reference array —
    // no join, no shuffle of the raw pool at all) and selection is a
    // bounded TakeOrdered
    val plan = w.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"fused DSIR scoring must not shuffle or join:\n$plan")
    val selPlan = Dsir.resample(raw, target, "doc_id", "text", k = 2,
      buckets = 512, alpha = 1.0).queryExecution.executedPlan.toString
    assert(selPlan.contains("TakeOrderedAndProject"))

    // the fused path equals the exploded-features formulation it
    // replaced (shared feature machinery with the NB classifier)
    val tc = Dsir.bucketCounts(target, "text", 512)
    val rc = Dsir.bucketCounts(raw, "text", 512)
    def total(c: org.apache.spark.sql.DataFrame) =
      c.agg(coalesce(sum("c"), lit(0L))).first().getLong(0).toDouble
    val (tn, qn) = (total(tc), total(rc))
    val ratios = tc.withColumnRenamed("c", "tc")
      .join(rc.withColumnRenamed("c", "qc"), Seq("b"), "full_outer")
      .select(col("b"),
        (log((coalesce(col("tc"), lit(0L)) + 1.0) / (tn + 512.0)) -
         log((coalesce(col("qc"), lit(0L)) + 1.0) / (qn + 512.0))).as("lr"))
    val viaJoin = Dsir.features(raw, "doc_id", "text", 512)
      .join(ratios, Seq("b"), "left")
      .groupBy("id").agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr")), 6).as("logw"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(w.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == viaJoin)
  }

  test("cosine: native expression matches HOF formulation bit-exactly") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.0, 0.0), Seq(1.0, 2.0)), // zero norm → 0.0
      (Seq(-1.0, 2.0, -3.0), Seq(3.0, -2.0, 1.0))
    ).toDF("a", "b")
    val rows = df.select(
      graft.functions.VectorExpressions.cosine_native(col("a"), col("b")).as("native"),
      graft.functions.cosine_similarity(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    assert(rows(1).getDouble(0) == 0.0)
  }
}
