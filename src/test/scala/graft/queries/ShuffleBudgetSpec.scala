package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{ShuffleMeter, SparkSpec}

/** Order-of-magnitude shuffle tripwires for headline queries at sf0.01:
  * each query is warmed once (fixture/store builds land outside the
  * measurement, as they do in production serving), then re-run under
  * [[ShuffleMeter]], which sums shuffle WRITE bytes across its stages. The
  * budgets are ~5-10× the measured values — loose enough to never flake
  * on plan jitter, tight enough that the classic 100-TB regressions
  * (document text riding a shuffle, a candidate join going cartesian, a
  * broadcast silently becoming an exchange) blow through them by orders
  * of magnitude. The curation rehearsal's per-doc byte assertion in
  * ScaleCheck is the scale-sized sibling of this spec. */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.01"

  private def shuffleBytesOf(name: String): Long = {
    // warm: fixture builds + persisted stores happen here
    graft.SparkEntry.queries(name)(spark, dir).count()
    ShuffleMeter(spark)(graft.SparkEntry.queries(name)(spark, dir).count())._2
  }

  // (query, budget in bytes) — see scaladoc for how budgets are set
  // measured at sf0.01 (spec info lines): 18 KiB / 503 KiB / 0 /
  // 801 KiB / 5 KiB / 26 KiB / 7 KiB — budgets sit ~10× above
  private val budgets = Seq(
    "dsir_weights" -> (256L << 10),        // digest-only: (id, partial) rows
    "dedup_ngram_jaccard" -> (4L << 20),   // hashed shingle postings, no text
    "dedup_minhash_lsh" -> (2L << 20),     // served from the persisted pair fixture
    "dedup_span_index" -> (8L << 20),      // rolling-hash windows, no text
    // round 12: +~120 KiB on the two tightest text budgets — the
    // scan-parallelism fix (Tables.fanOut, guide §2.5: the corpus
    // ships as ONE unsplittable row group) moves the raw docs table
    // through ONE deliberate round-robin exchange before the digest
    // pipeline, so these now carry one input pass (~60 KiB at sf0.01)
    // on top of the digest traffic. At scale fanOut is a no-op (a big
    // table scans as thousands of splits), so the tripwire's purpose —
    // catching text riding the DIGEST exchanges — is intact.
    "text_ccnet_buckets" -> (384L << 10),  // token stats + per-doc NLL + 1 fan-out pass
    "ts_promql_topk" -> (512L << 10),      // partial-agg + group-limit bounded
    "knn_ivf" -> (256L << 10),             // probed cells only
    "text_bm25" -> (256L << 10),           // fused: top-k candidates + 1 fan-out pass
    "q_sessionize" -> (1L << 20))          // 3-column events + per-session rows

  for ((name, budget) <- budgets)
    test(s"$name shuffles within its ${budget >> 20} MiB budget at sf0.01") {
      val got = shuffleBytesOf(name)
      info(f"measured ${got / 1024.0}%.0f KiB of ${budget >> 10} KiB budget")
      assert(got <= budget,
        s"$name shuffled $got bytes (> $budget): a scan-sized column is " +
          "likely riding an exchange that used to carry digests")
    }
}
