package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[Banded]] against brute-force all-pairs references on small
  * generated frames: the candidate multisets must be exact, not just
  * the distinct pair sets. */
class BandedSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val Bands = 3

  /** (id, keys) rows: `Bands` small random keys per id, so buckets hold
    * zero, one or several ids and some pairs share several bands. */
  private def keyed(ids: Seq[Long], keySpace: Int, seed: Long): Seq[(Long, Seq[Int])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(id => (id, Seq.fill(Bands)(rnd.nextInt(keySpace))))
  }

  private def banded(rows: Seq[(Long, Seq[Int])], idAs: String): DataFrame =
    Banded.buckets(rows.toDF("id", "keys"), col("keys"), col("id").as(idAs))

  private def selfRef(rows: Seq[(Long, Seq[Int])],
                      maxBucket: Int = Int.MaxValue): Map[(Long, Long), Int] = {
    val bucketSize = counted(rows.flatMap { case (_, ks) => ks.zipWithIndex })
    counted(for {
      (a, ka) <- rows; (b, kb) <- rows if a < b
      band <- 0 until Bands
      if ka(band) == kb(band) && bucketSize((ka(band), band)) <= maxBucket
    } yield (a, b))
  }

  private def counted[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("selfPairs: one row per pair per shared bucket, as brute force") {
    val rows = keyed(0L until 40L, keySpace = 4, seed = 7)
    val ref = selfRef(rows)
    assert(ref.values.exists(_ > 1)) // some pair shares several bands
    assert(counted(pairs(Banded.selfPairs(banded(rows, "id")))) == ref)
    // the LSH consumer's distinct emits each such pair once
    val sigs = rows.map { case (id, ks) => (id, Seq(id), ks.map(_.toString)) }
      .toDF("id", "hs", "bands")
    assert(counted(pairs(Dedup.lshCandidatePairs(sigs, Bands))) ==
      ref.map { case (k, _) => k -> 1 })
  }

  test("selfPairs: maxBucket drops over-full buckets before expansion") {
    val rows = keyed(0L until 40L, keySpace = 10, seed = 11)
    for (cap <- Seq(2, 4)) {
      val ref = selfRef(rows, cap)
      assert(ref.nonEmpty && ref != selfRef(rows))
      assert(counted(pairs(Banded.selfPairs(banded(rows, "id"), cap))) == ref)
    }
  }

  test("selfPairs: single-member buckets and an empty frame yield nothing") {
    val distinctKeys = (0L until 10L).map(id => (id, Seq.fill(Bands)(id.toInt)))
    assert(Banded.selfPairs(banded(distinctKeys, "id")).isEmpty)
    assert(Banded.selfPairs(banded(Seq.empty, "id")).isEmpty)
  }

  test("selfPairs: struct ids pair in struct order") {
    // (clip, hash) ids: clip 1 holds two hashes in the same bucket
    val rows = Seq((1L, 5L, 0), (1L, 3L, 0), (2L, 4L, 0), (3L, 9L, 1))
      .toDF("clip", "h", "key")
    val got = Banded.selfPairs(Banded.buckets(rows, array(col("key")),
        struct(col("clip"), col("h")).as("id")))
      .collect().map { r =>
        val (a, b) = (r.getStruct(0), r.getStruct(1))
        ((a.getLong(0), a.getLong(1)), (b.getLong(0), b.getLong(1)))
      }.toSeq
    assert(counted(got) == counted(Seq(
      ((1L, 3L), (1L, 5L)), ((1L, 3L), (2L, 4L)), ((1L, 5L), (2L, 4L)))))
  }

  test("crossPairs: every (left, right) row sharing a bucket, as brute force") {
    val left = keyed(0L until 25L, keySpace = 4, seed = 3)
    val right = keyed(100L until 130L, keySpace = 4, seed = 5)
    val ref = for {
      (a, ka) <- left; (b, kb) <- right
      band <- 0 until Bands if ka(band) == kb(band)
    } yield (a, b, band)
    val joined = Banded.crossPairs(banded(left, "lid"), banded(right, "rid"))
    val got = joined.select(col("lid"), col("rid"), col("band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(ref.nonEmpty && counted(got) == counted(ref))
    assert(joined.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    assert(Banded.crossPairs(banded(left, "lid"), banded(Seq.empty, "rid")).isEmpty)
  }

  test("hammingPairs: every pair within maxDist once, as brute force") {
    // 16-bit hashes, 4 bands of 4 bits: by pigeonhole any pair within 3
    // bits agrees on a band, so banding loses nothing and the result must
    // equal all-pairs. Near copies of a few bases, plus exact duplicates
    // (hamming-0 pairs between ids) and pairs sharing several bands.
    val rnd = new scala.util.Random(17)
    val bases = Seq.fill(5)(rnd.nextInt(1 << 16).toLong)
    val hashes = (0L until 60L).map { id =>
      val flips = Seq.fill(rnd.nextInt(4))(1L << rnd.nextInt(16)).foldLeft(0L)(_ ^ _)
      id -> (bases(rnd.nextInt(bases.size)) ^ flips)
    }
    val bandKeys = (h: org.apache.spark.sql.Column) =>
      (0 until 4).map(b => shiftright(h, b * 4).bitwiseAND(0xfL))
    val maxDist = 3
    val ref = for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxDist
    } yield (a, b, d.toLong)
    assert(ref.exists(_._3 == 0L) && ref.exists(_._3 == 3L))
    val got = Banded.hammingPairs(hashes.toDF("id", "h"), bandKeys, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(counted(got) == counted(ref))
    assert(Banded.hammingPairs(Seq.empty[(Long, Long)].toDF("id", "h"),
      bandKeys, maxDist).isEmpty)
  }
}
