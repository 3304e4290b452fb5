package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Persisted
import graft.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 128-bit digest (never on the
  *    raw text — the digest is computed map-side so only 16 bytes move);
  *  - MinHash/LSH turns all-pairs O(n²) into banded candidates:
  *    pairs only form inside identical (band, signature-slice) buckets
  *    ([[Banded]] — bucket-local expansion within one corpus, a
  *    sort-merge join on the band key across two);
  *  - verification (true Jaccard / cosine) runs only on candidates.
  *
  * All hashing is md5-based so results are deterministic and portable
  * across engines (the DuckDB oracle recomputes them bit-identically).
  */
object Dedup {

  /** Exact duplicate groups by content digest. Returns one row per
    * distinct content: digest, representative (min) id, count. */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.groupBy(md5(concat_ws("\u0000", contentCols.map(col): _*)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized-content dedup: case/whitespace-insensitive token stream. */
  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(concat_ws(" ", tokens(col(textCol)))).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash over 60-bit shingle hashes --------------------------------
  // One md5 per shingle; the k "permutations" are cheap affine maps
  // h_j = (a_j·h + b_j) mod P over the 31-bit reduction of the hash. This
  // is ~k× cheaper than k independent md5 passes and stays portable: the
  // oracle recomputes the same md5 + affine arithmetic (P small enough
  // that a_j·h never overflows checked int64 engines).

  /** Prime modulus for the affine MinHash permutations: 2^31 - 1. */
  val MinhashP = 2147483647L

  /** 60-bit integer hash of a string: first 15 md5 hex chars. */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Deterministic affine-permutation parameters for hash slot j. */
  def minhashA(j: Int): Long = (2654435761L * (j + 1)) % MinhashP
  def minhashB(j: Int): Long = (97531L * j + 12345L) % MinhashP

  /** Distinct 31-bit shingle-hash set of a document (map-side only) —
    * lambda-HOF reference formulation, kept as the parity oracle for the
    * fused native expression below. */
  def shingleHashesHof(textCol: Column, shingleSize: Int): Column =
    array_distinct(transform(shingles(textCol, shingleSize),
      s => pmod(hash60(s), lit(MinhashP))))

  /** Distinct 31-bit shingle-hash set of a document (map-side only).
    * Fused native expression — one pass, no per-lambda interpretation
    * (see [[graft.functions.MinhashPackedExpr]]); bit-identical to
    * [[shingleHashesHof]] and the DuckDB oracle. */
  def shingleHashes(textCol: Column, shingleSize: Int): Column =
    graft.functions.MinhashExpressions.shingle_hashes_native(textCol, shingleSize)

  /** Per-document (id, hs, sig): the distinct 31-bit shingle-hash set and
    * the full MinHash signature, computed ENTIRELY map-side — zero
    * shuffles — by the fused native [[graft.functions.MinhashPackedExpr]]
    * (one pass per document: tokenize, shingle, md5, k affine minima; no
    * per-lambda interpretation).
    *
    * The original shape (explode tokens → window-lead shingles → distinct
    * → groupBy(id) with k min-aggregates) shuffled every token three
    * times; at 100 TB the per-doc arrays (~KBs) never leave their input
    * partition under this form, which is the difference between a scan
    * and three full-corpus shuffles. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, shingleSize: Int = 3,
                        bands: Int = 0): DataFrame = {
    val packed = graft.functions.MinhashExpressions.minhash_packed(
      col(textCol), shingleSize, numHashes, bands)
    // Filter FIRST, on the cheap token count (size(hs) > 0 ≡ #tokens >=
    // shingleSize): a filter on the packed struct would be pushed below
    // the projection and re-evaluate the whole 16-permutation expression
    // a second time per row. The two selects collapse into one Project
    // where the d.* extractions share the packed subexpression (CSE).
    val base = df.where(size(graft.functions.tokens(col(textCol))) >= shingleSize)
      .select(col(idCol).as("id"), packed.as("d"))
    if (bands > 0)
      base.select(col("id"), col("d.hs").as("hs"), col("d.sig").as("sig"),
        col("d.bands").as("bands"))
    else base.select(col("id"), col("d.hs").as("hs"), col("d.sig").as("sig"))
  }

  /** LSH banding: one (band, band_key, id) row per signature band; docs
    * sharing any bucket are candidate near-duplicates. When `signatures`
    * carries a fused `bands` column ([[minhashSignatures]] with
    * `bands > 0`) the explode fans out over that precomputed array;
    * otherwise the band keys are derived from sig slices here (HOF form,
    * kept as the parity oracle for the fused path). */
  def lshBuckets(signatures: DataFrame, bands: Int): DataFrame = {
    val keys =
      if (signatures.columns.contains("bands")) col("bands")
      else {
        val sigLen = size(col("sig")) / bands // rows per band, plan-time
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("|", transform(slice(col("sig"), b * sigLen + 1, sigLen),
            x => x.cast("string")))))
      }
    Banded.buckets(signatures, keys, col("id"), col("hs"))
  }

  /** Candidate pairs from LSH buckets (id1 < id2, distinct) —
    * bucket-local expansion via [[Banded.selfPairs]], no cross product;
    * only ids travel through the distinct. `maxBucket` (opt-in) drops
    * degenerate buckets before expansion — the recall loss is confined
    * to pairs ALL of whose shared buckets are over the cap, exactly the
    * boilerplate case the cap exists to neutralize. */
  def lshCandidatePairs(signatures: DataFrame, bands: Int,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    Banded.selfPairs(lshBuckets(signatures, bands), maxBucket).distinct()

  /** Full MinHash-LSH near-dup pipeline: candidates verified by exact
    * Jaccard over the shingle-hash sets (>= threshold). The hash sets are
    * joined back onto the (small) candidate set — the scan-side work never
    * depends on candidate count. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                 threshold: Double = 0.6,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    // band keys are fused into the same single pass as hs/sig
    val sigs = Persisted(
      minhashSignatures(df, idCol, textCol, numHashes, shingleSize, bands))
    val hs = sigs.select(col("id"), col("hs"))
    lshCandidatePairs(sigs, bands, maxBucket)
      .join(hs.select(col("id").as("id1"), col("hs").as("hs1")), "id1")
      .join(hs.select(col("id").as("id2"), col("hs").as("hs2")), "id2")
      .withColumn("jaccard", jaccardOf(col("hs1"), col("hs2")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Cross-corpus near-dedup: which documents of a NEW batch
    * near-duplicate an EXISTING corpus — the incremental-ingestion form
    * of [[minhashLsh]]. The corpus side is the amortized artifact: its
    * [[minhashSignatures]] frame (id, shingle set, signature, band
    * keys), at 100 TB a parquet table refreshed with the corpus and
    * bucketed by band key, so per run only the NEW batch is shingled
    * and hashed. Candidates are (band, band_key) matches between the
    * batch and the index — the same banding recall guarantee as the
    * within-corpus path — verified by exact Jaccard over the shingle
    * sets. Output: one (new_id, corpus_id, jaccard ≥ threshold) row
    * per verified match. */
  def minhashLshAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                        corpusIndex: DataFrame,
                        numHashes: Int = 16, bands: Int = 4,
                        shingleSize: Int = 3,
                        threshold: Double = 0.6): DataFrame = {
    val nsigs = Persisted(
      minhashSignatures(newDocs, idCol, textCol, numHashes, shingleSize, bands))
    val nb = lshBuckets(nsigs, bands)
      .select(col("band"), col("band_key"), col("id").as("new_id"))
    val cb = lshBuckets(corpusIndex, bands)
      .select(col("band"), col("band_key"), col("id").as("corpus_id"))
    Banded.crossPairs(nb, cb)
      .select(col("new_id"), col("corpus_id")).distinct()
      .join(nsigs.select(col("id").as("new_id"), col("hs").as("hs1")), "new_id")
      .join(corpusIndex.select(col("id").as("corpus_id"), col("hs").as("hs2")),
        "corpus_id")
      .withColumn("jaccard", jaccardOf(col("hs1"), col("hs2")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Jaccard similarity of two pre-deduped arrays. */
  def jaccardOf(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 6)

  /** All-pairs n-gram Jaccard within a blocking key, computed via an
    * inverted-index self-join: explode shingle hashes, equi-join on
    * (block, hash), count common hashes per pair, then
    * J = c / (n1 + n2 - c). No array is ever shipped through the join and
    * no O(block²) array intersections run — at scale this is a plain
    * shuffle join on (block, hash) with a pair-key aggregation. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: Column, shingleSize: Int = 3,
                        threshold: Double = 0.3): DataFrame = {
    // per-doc hash sets computed map-side; persisted because both
    // self-join sides + the size table read it (Spark recomputes a
    // DataFrame per consumer otherwise). The explode below fans out over a
    // concrete cached column — GenerateExec re-evaluates its child per
    // OUTPUT row, so it must never be handed the heavy hash expression.
    val base = Persisted(
      df.select(col(idCol).as("id"), blockCol.as("blk"),
          shingleHashes(col(textCol), shingleSize).as("hs"))
        .where(size(col("hs")) > 0))
    // hs is already distinct → exploding gives distinct (id, h) rows
    val ex = base.select(col("id"), col("blk"), explode(col("hs")).as("h"))
    // per-doc set sizes: tiny table, broadcast back onto the pair counts
    val sizes = base.select(col("id"), size(col("hs")).cast("long").as("n"))
    val l = ex.select(col("blk"), col("h"), col("id").as("id1"))
    val r = ex.select(col("blk"), col("h"), col("id").as("id2"))
    l.join(r.hint("merge"), Seq("blk", "h"))
      .where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(sizes.select(col("id").as("id1"), col("n").as("n1"))), "id1")
      .join(broadcast(sizes.select(col("id").as("id2"), col("n").as("n2"))), "id2")
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("n1") + col("n2") - col("c")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** 64-bit SimHash over word tokens: per-bit majority vote of token
    * hashes. Deterministic md5-derived token hashes (first 15 hex chars
    * → 60 bits, sign-safe) keep it oracle-portable. Map-side only.
    * Fused native expression; [[simhash64Hof]] is the parity oracle. */
  def simhash64(textCol: Column): Column =
    graft.functions.MinhashExpressions.simhash_native(textCol)

  /** Lambda-HOF reference formulation of [[simhash64]] (parity tests). */
  def simhash64Hof(textCol: Column): Column = {
    val tokenHashes = transform(tokens(textCol),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")) // 60 bits, sign-safe
    val bits = sequence(lit(0), lit(59))
    // for each bit: +1 if set, -1 if not, summed over tokens; bit set iff sum > 0
    aggregate(
      tokenHashes,
      transform(bits, _ => lit(0L)), // accumulator: 60 counters
      (acc, h) => zip_with(acc, bits,
        (a, b) => a + when(call_function("shiftright", h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)),
      acc => aggregate(zip_with(acc, bits,
        (a, b) => when(a > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
        lit(0L), (x, y) => x.bitwiseOR(y)))
  }

  /** SimHash near-dup pairs: hamming distance <= maxDist within
    * same-band blocking (4 bands of 15 bits → any pair within distance 3
    * shares at least one exact band) — [[Banded.hammingPairs]] over one
    * fused codegen'd simhash per document. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    Banded.hammingPairs(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("h")),
      h => (0 until 4).map(b => shiftright(h, b * 15).bitwiseAND(0x7fffL)),
      maxDist)

  /** Duplicate-cluster assignment: connected components over a pair
    * graph, labeling every node with the MIN id reachable from it (the
    * cluster's canonical representative — what a training-data pipeline
    * keeps). Hash-min label propagation: each round every node adopts the
    * smallest label in its closed neighborhood; converges in
    * O(graph diameter) rounds (near-dup clusters are short chains, so a
    * handful). Each round is one shuffle on `id`; the driver checks an
    * AGGREGATE (sum of labels) for convergence, never collecting nodes.
    * The classic sub-log alternative (large-star/small-star, Kiveris et
    * al., public) drops in here if diameters ever warrant it. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // The iteration runs on RDDs with an EXPLICIT HashPartitioner — the
    // legitimate use of the RDD layer: every per-round join below is
    // co-partitioned (narrow, no shuffle), and the partition count scales
    // with the GRAPH (~500k edges/partition), not with the parent query's
    // spark.sql.shuffle.partitions. The DataFrame formulation paid
    // full-width shuffle scheduling per round: 10s for a 253-edge graph.
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val dbg = sys.props.contains("graft.cc.debug")
    def phase[T](name: String)(f: => T): T =
      if (!dbg) f else {
        val t0 = System.nanoTime(); val r = f
        println(f"[cc] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        r
      }
    val edges: RDD[(Long, Long)] = pairs
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .where(col("id1") =!= col("id2"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = phase("edges.count")(edges.count())
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, (nEdges / 500000L).toInt + 1))
    val part = new HashPartitioner(parts)
    // symmetric adjacency so the min label flows both directions
    val adj = edges.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var labels: RDD[(Long, Long)] = phase("init labels")(adj.mapValues(_ => ()).distinct(parts)
      .map { case ((id, _)) => (id, id) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK))
    var it = 0
    var done = false
    while (it < maxIter && !done) {
      // hash-min: adopt the smallest label in the closed neighborhood
      val nbMin = adj.join(labels, part) // narrow: both sides on `part`
        .map { case (id, (nb, comp)) => (nb, comp) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val oneHop = labels.leftOuterJoin(nbMin, part)
        .mapValues { case (c, m) => math.min(c, m.getOrElse(Long.MaxValue)) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // path-halving: also adopt your LABEL's label (labels are node
      // ids, so they resolve) — O(diameter) rounds become O(log d)
      val halved = oneHop.map { case (id, c) => (c, id) }
        .join(oneHop, part) // (c, (id, labelOf(c)))
        .map { case (c, (id, cc)) => (id, math.min(c, cc)) }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      val changed = phase(s"iter $it changed")(halved.join(labels, part)
        .filter { case (_, (a, b)) => a != b }.count())
      labels.unpersist(false); oneHop.unpersist(false)
      labels = halved
      done = changed == 0
      it += 1
    }
    adj.unpersist(false); edges.unpersist(false)
    spark.createDataFrame(
      labels.map { case (id, c) => org.apache.spark.sql.Row(id, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** C4-style corpus-wide LINE deduplication: any line occurring more
    * than once across the corpus keeps only its FIRST occurrence (min
    * (doc_id, line_no)); every other instance — including repeats inside
    * the same document — is dropped. Returns one row per document with
    * the cleaned text reassembled in original line order plus kept /
    * removed counts (docs whose every line was removed keep an empty
    * string, so no document disappears from the corpus).
    *
    * Scale shape (100 TB): the line stream shuffles ONCE, keyed on its
    * 128-bit md5 (16 bytes + two longs per line — the raw text rides
    * along only as the aggregation's payload for reassembly, it is
    * never the shuffle key), as a groupBy with a map-side-combinable
    * `min(struct(doc_id, line_no))` rather than a window sort — a
    * window over the same key would shuffle identically but sort every
    * bucket and combine nothing map-side. The first-occurrence verdict
    * then broadcasts/joins back and the second shuffle (doc_id) is the
    * unavoidable reassembly. Reference: the C4 dataset's three-sentence
    * / line-level dedup (Raffel et al. 2020, §2.2 "deduplication"). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("lh", md5(col("line")))
    // map-side-combined: one surviving (lh → first occurrence) row per
    // distinct line per input partition reaches the shuffle
    val firstSeen = lines.groupBy(col("lh"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("keep"))
    val marked = lines.join(firstSeen, "lh")
      .withColumn("kept", struct(col("doc_id"), col("line_no")) === col("keep"))
    // collect_list skips nulls → the when() keeps only surviving lines;
    // array_sort on (line_no, line) structs restores document order
    marked.groupBy(col("doc_id"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("line_no"), col("line"))))),
          s => s.getField("line"))).as("clean_text"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Duplicated-span index — the distributed re-expression of
    * suffix-array exact-substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every `spanTokens`-token
    * window that appears in at least `minDocs` distinct documents, with
    * its document frequency and first (min) containing doc.
    *
    * Scale shape (100 TB): spans are generated AND hashed map-side (the
    * per-doc distinct window set from the fused shingle pass), so the one
    * shuffle carries (16-byte digest, doc_id) pairs — never span text.
    * The aggregation is map-side combined; the output is only the
    * multi-doc tail, which is what a masking/filtering pass consumes. */
  def spanIndex(df: DataFrame, idCol: String, textCol: String,
                spanTokens: Int, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), spanTokens)).as("span"))
      .groupBy(md5(col("span")).as("span_digest"))
      // per-doc spans are distinct → count(1) ≡ document frequency
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)

  /** Per-document duplicated-span contamination score: the fraction of a
    * document's `spanTokens`-token windows that also appear in some OTHER
    * document (the Lee et al. filter criterion). `keep` = docs below
    * `maxDupFrac` — what a curation pipeline passes downstream.
    *
    * Scale: the span stream shuffles on the digest twice (dup-index
    * aggregation, then the semi-join back) and once on doc_id for the
    * per-doc score — all three carry digests/ids only. The multi-doc
    * index is NOT broadcast: boilerplate-heavy corpora make it large, and
    * the semi-join handles skewed digests via AQE. Documents shorter than
    * one span window score 0 and are kept (nothing to compare). */
  def spanDupScore(df: DataFrame, idCol: String, textCol: String,
                   spanTokens: Int, maxDupFrac: Double = 0.5): DataFrame = {
    val spans = Persisted(
      df.select(col(idCol).as("doc_id"),
          explode(shingles(col(textCol), spanTokens)).as("span"))
        .select(col("doc_id"), md5(col("span")).as("sd")))
    // spans duplicated across docs (df >= 2); a span repeated only
    // WITHIN one doc is already collapsed by the distinct shingle set
    val dup = spans.groupBy(col("sd"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("sd"))
    val perDoc = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(dup, Seq("sd"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    // re-anchor on the full corpus so window-less docs still score
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      // explicit zero-window guard: under ANSI mode (the Spark 4
      // default) x/0 throws rather than yielding the null a coalesce
      // could absorb, so a sub-window-length doc must never reach the
      // division
      .withColumn("dup_frac", when(col("n_spans") > 0, round(
        col("n_dup_spans").cast("double") / col("n_spans"), 6))
        .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
  }

  /** [[spanDupScore]] against an EXTERNAL duplicated-span index — the
    * incremental/streaming form: `dupIndex` is the multi-doc tail
    * maintained by [[graft.streaming.StreamIngest.spanIndexStream]]
    * (or any frame with a `span_digest` column, e.g. [[spanIndex]]
    * output), so scoring a new micro-batch — or RE-scoring docs whose
    * spans became duplicated later — costs one pass over the scored
    * docs plus a digest semi-join, never a corpus-wide span recompute.
    * Scoring the whole corpus against its own [[spanIndex]] equals
    * [[spanDupScore]] exactly. */
  def spanDupScoreAgainst(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int, dupIndex: DataFrame,
                          maxDupFrac: Double = 0.5): DataFrame = {
    val spans = Persisted(
      df.select(col(idCol).as("doc_id"),
          explode(shingles(col(textCol), spanTokens)).as("span"))
        .select(col("doc_id"), md5(col("span")).as("sd")))
    val dup = dupIndex.select(col("span_digest").as("sd"))
    val perDoc = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(dup, Seq("sd"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac", when(col("n_spans") > 0, round(
        col("n_dup_spans").cast("double") / col("n_spans"), 6))
        .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
  }

  /** Surgical duplicated-span REMOVAL — the third Lee et al. stage after
    * detection ([[spanIndex]]) and scoring ([[spanDupScore]]): rather
    * than dropping a whole document over boilerplate, delete exactly the
    * tokens covered by some `spanTokens`-window that appears in ≥ 2
    * documents, keeping the copy in the span's FIRST (min doc_id)
    * containing document. Document-level granularity: the first doc
    * keeps all its occurrences of the span; every other doc loses all of
    * its covered tokens. Output: (doc_id, clean_text, n_tokens,
    * n_removed) over the normalized token stream.
    *
    * Scale shape: windows are hashed map-side into a MATERIALIZED
    * (position, digest) array — GenerateExec then fans out over the
    * concrete column, never re-running the window hash per output row —
    * and the shuffles carry digests/positions only. Digests are 60-bit
    * longs ([[hash60]], the oracle-mirrorable md5 truncation): 4× less
    * array/shuffle weight than 32-char md5 strings, which cut the 2M-doc
    * ScaleCheck section materially. The per-doc mask is a
    * position-lambda filter over the token array (codegen'd HOFs,
    * O(tokens × flagged-starts) per doc). */
  def maskDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int): DataFrame = {
    val k = spanTokens
    val base = Persisted(df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t")))
    val winArr = when(size(col("t")) >= k,
      transform(sequence(lit(0), size(col("t")) - k), i =>
        struct(i.as("p"),
          hash60(concat_ws(" ", slice(col("t"), i + lit(1), lit(k)))).as("sd"))))
      .otherwise(array().cast("array<struct<p:int,sd:bigint>>"))
    val wins = Persisted(base.select(col("doc_id"), winArr.as("wins")))
    val flat = wins.select(col("doc_id"), explode(col("wins")).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.sd").as("sd"))
    // the dup tail over DISTINCT per-doc spans — same counts as spanIndex
    val dup = flat.select(col("doc_id"), col("sd")).distinct()
      .groupBy(col("sd"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)
    val starts = flat.join(dup.select(col("sd"), col("first_doc")), "sd")
      .where(col("doc_id") =!= col("first_doc"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("starts"))
    def covered(i: Column) =
      exists(col("starts"), s => s <= i && i < s + k)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      // one covered-mask pass: n_removed falls out of the size delta
      .withColumn("kept", filter(col("t"), (_, i) => !covered(i)))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Embedding near-dup at corpus scale: SRP-LSH banded candidate
    * generation + exact-cosine verify — the sub-quadratic path
    * [[embeddingNearDup]]'s doc promises ("documented LSH hand-off").
    *
    * Scale shape (100 TB): each vector is hashed ONCE map-side into
    * `tables`×`planesPerTable` sign bits (deterministic md5-derived
    * planes, [[Similarity.srpSignature]]); candidates only form inside
    * identical (table, bucket) keys — bucket-local expansion
    * ([[Banded.selfPairs]]), never all-pairs — and the exact cosine runs
    * only on the candidate set.
    * Recall: two vectors at angle θ share one table's bucket with
    * probability (1 - θ/π)^planesPerTable, amplified by `tables`
    * independent tables; raise `tables` for recall, `planesPerTable`
    * for precision. Same banding calculus as MinHash-LSH
    * ([[minhashLsh]]) with cosine in place of Jaccard. */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          dim: Int, planesPerTable: Int = 4, tables: Int = 2,
                          threshold: Double = 0.3): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // persist = optimizer barrier: the signature is computed once per
    // vector; the explode fans out over cheap slices of the concrete
    // column (GenerateExec re-evaluates its child per OUTPUT row)
    val mat = Persisted(
      df.select(col(idCol).as("id"), v.as("v"),
        Similarity.srpSignature(v, dim, planesPerTable * tables).as("sigall")))
    val bucketed = Banded.buckets(mat,
      Similarity.srpBandKeys(col("sigall"), tables, planesPerTable), col("id"))
    Banded.selfPairs(bucketed).distinct()
      .join(mat.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(mat.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cos", round(
        graft.functions.VectorExpressions.cosine_native(col("v1"), col("v2")), 6))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Embedding near-dup: pairs with cosine >= threshold. Brute force
    * within a blocking column (default: none → label-blocked by caller);
    * see Similarity.lshTopK for the sub-quadratic path. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: Column, threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("id"), blockCol.as("blk"),
      col(vecCol).cast("array<double>").as("v"))
    val l = docs.select(col("blk"), col("id").as("id1"), col("v").as("v1"))
    val r = docs.select(col("blk"), col("id").as("id2"), col("v").as("v2"))
    l.join(r, "blk").where(col("id1") < col("id2"))
      // codegen'd fused loop (CosineSimilarityExpr) — one pass per pair,
      // no boxing; beats precomputing norms + interpreted HOF dot
      .withColumn("cos", round(
        graft.functions.VectorExpressions.cosine_native(col("v1"), col("v2")), 6))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — k-means-cluster the embedding space, search for
    * duplicate pairs ONLY within a cluster, and from each duplicated
    * pair keep the member LESS similar to its cluster centroid (the
    * paper's diversity-preserving keep rule: the more-central copy is
    * redundant with the cluster's mass). Complements [[embeddingNearDup]]
    * (brute within caller blocks) and [[embeddingNearDupLsh]] (SRP-LSH
    * bands): here the blocking structure is LEARNED from the data.
    *
    * Scale shape (100 TB): centroids are a broadcast k×dim
    * LocalRelation ([[Similarity.kmeansCentroids]] trains them in
    * `iters` map-side-combined passes); assignment is one min(struct)
    * aggregation — the corpus never shuffles for it; candidate pairs
    * form only inside a cluster, the paper's tractability trick — k
    * grows with n so cluster sizes stay bounded (SemDeDup used k=50,000
    * on LAION-440M). The self-join on the cell id is pinned to
    * sort-merge: both sides carry the vectors themselves, so neither is
    * a broadcast-sized dimension, and at extreme scale feed
    * [[Similarity.scalarQuantize]]d vectors to cut the shuffle 8×.
    *
    * Determinism: assignment tie-breaks min-cell (same min(struct) as
    * [[Similarity.ivfAssign]]); the keep rule tie-breaks on id; all
    * compared cosines are rounded to 6 decimals — bit-reproducible by
    * an external engine (the DuckDB oracle unrolls the same Lloyd
    * rounds).
    *
    * Returns every input id with its cell, centroid cosine, and a
    * `keep` flag (false = semantic duplicate, drop). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centIdCol: String, centVecCol: String,
                    tau: Double): DataFrame = {
    import graft.functions.VectorExpressions.cosine_native
    val c = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val cent = centroids.select(col(centIdCol).as("cell"),
      col(centVecCol).cast("array<double>").as("centv"))
    // slim argmax: the vector must not ride through the k× crossJoin —
    // assign over (id, d, cell) rows only, rejoin v by id (measured 7×
    // at 101k vectors × 512 cells; see Similarity.ivfAssign)
    val assigned = Persisted(
      c.crossJoin(broadcast(cent))
        .select(col("id"), cosine_native(col("v"), col("centv")).as("d"), col("cell"))
        .groupBy(col("id"))
        .agg(min(struct((-col("d")).as("nd"), col("cell").as("cell"))).as("best"))
        .select(col("id"), col("best").getField("cell").as("cell"),
          round(-col("best").getField("nd"), 6).as("cent_cos"))
        .join(c, "id")
        .select(col("id"), col("v"), col("cell"), col("cent_cos")))
    val l = assigned.select(col("cell"), col("id").as("id1"), col("v").as("v1"),
      col("cent_cos").as("c1"))
    val r = assigned.select(col("cell"), col("id").as("id2"), col("v").as("v2"),
      col("cent_cos").as("c2"))
    val dups = l.join(r.hint("merge"), Seq("cell"))
      .where(col("id1") < col("id2"))
      .where(round(cosine_native(col("v1"), col("v2")), 6) >= tau)
    // from each duplicate pair drop the member MORE similar to the
    // centroid (tie: the higher id) — keep the diversity outlier
    val removed = dups.select(
        when(col("c1") > col("c2") ||
             (col("c1") === col("c2") && col("id1") > col("id2")), col("id1"))
          .otherwise(col("id2")).as("id"))
      .distinct()
    assigned
      .join(removed.withColumn("rm", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("cent_cos"),
        not(coalesce(col("rm"), lit(false))).as("keep"))
  }
}
