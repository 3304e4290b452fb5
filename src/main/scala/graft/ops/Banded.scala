package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Persisted

/** Banded candidate pairs — the blocking step behind every near-dup,
  * kNN-LSH and fuzzy-decontamination operator: band keys fan out to
  * (band, band_key) rows and pairs form only inside a shared bucket,
  * never all-pairs. Recall is the caller's banding contract; this module
  * owns how candidates form — [[selfPairs]] within one frame,
  * [[crossPairs]] between two. A pair is emitted once per shared bucket;
  * callers dedupe after their own verify filter. */
object Banded {

  /** One row per element of the `keys` array: `cols`, then `band` (the
    * element's position) and `band_key` (the element). Explode only a
    * CONCRETE column or cheap slices of one — GenerateExec re-evaluates
    * its child per output row. */
  def buckets(df: DataFrame, keys: Column, cols: Column*): DataFrame =
    df.select(cols :+ posexplode(keys): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** In-bucket pairs WITHOUT a self-join, over a [[buckets]] frame with
    * an `id` column (any orderable type, structs included): one
    * (id1, id2) row per bucket and pair, id1 < id2. Ids must be distinct
    * within a bucket — a repeated id pairs with itself.
    *
    * A sort-merge self-join shuffles the bucketed frame TWICE
    * (Exchange+Sort per side; Catalyst sizes both before the explode, so
    * neither broadcasts safely). This shuffles (bucket, id) ONCE into an
    * ObjectHashAggregate (collect_list — no sort), then two Generates
    * emit the i<j combinations: O(n²) per bucket, exactly the output.
    * sort_array orders ids as `id1 < id2` would, so the pair set equals
    * the self-join's.
    *
    * `maxBucket` drops buckets above the cap before expansion (a free
    * size() filter): a bucket of n ids yields n(n-1)/2 pairs, so at
    * 100 TB ONE boilerplate key shared by a million docs is 5·10¹¹
    * pairs; a true pair in an over-full bucket is still found through
    * any smaller bucket it shares. */
  def selfPairs(b: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    val grouped = b.groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val capped =
      if (maxBucket == Int.MaxValue) grouped
      else grouped.where(size(col("ids")) <= maxBucket)
    capped.where(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "id1")), col("ids"))
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2),
          size(col("ids")) - col("i") - lit(1))).as("id2"))
  }

  /** Every (left, right) row pair of two [[buckets]] frames sharing a
    * (band, band_key), with both sides' columns. PINNED to sort-merge:
    * Catalyst sizes both sides before the explode and would broadcast
    * fact-sized relations — slower even at sf0.1, driver-bound at
    * scale. */
  def crossPairs(left: DataFrame, right: DataFrame): DataFrame =
    left.join(right.hint("merge"), Seq("band", "band_key"))

  /** Hamming near-dup pairs over an (id, h) frame of long hashes: one
    * (id1, id2, hamming ≤ maxDist) row per pair, id1 < id2. Recall is
    * `bandKeys`' contract: every pair within `maxDist` agrees on a band.
    *
    * The frame is persisted (optimizer barrier over the hash expression)
    * and pairs form over DISTINCT values, not documents — an m-document
    * identical cluster would otherwise cost m² per band. bit_count
    * filters BEFORE the distinct shuffle; value pairs (plus each value
    * with itself, hamming 0) then expand to document pairs, in time
    * proportional to the output. */
  def hammingPairs(docs: DataFrame, bandKeys: Column => Seq[Column],
                   maxDist: Int): DataFrame = {
    val d = Persisted(docs)
    val values = d.select(col("h")).distinct()
    val hPairs = selfPairs(buckets(values, array(bandKeys(col("h")): _*),
        col("h").as("id")))
      .select(col("id1").as("h1"), col("id2").as("h2"),
        bit_count(col("id1").bitwiseXOR(col("id2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
      .unionByName(values.select(col("h").as("h1"), col("h").as("h2"),
        lit(0L).as("hamming")))
    // id order normalized; the h1 == h2 self-pairs produce each unordered
    // pair twice → keep one
    hPairs
      .join(d.select(col("h").as("h1"), col("id").as("ida")), "h1")
      .join(d.select(col("h").as("h2"), col("id").as("idb")), "h2")
      .where(col("h1") =!= col("h2") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("hamming"))
  }
}
