package graft.tsdb.datasource

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.{Label, LabelMatcher, Sample, SampleStream, Tombstones, TsSchema, TsdbBlock, TsdbIndex, XorChunk}

/** Driver-local select over a fixed set of native blocks — agni's own
  * remote-read path (`server.go:64-97`, `querier.go:499-574`) with no
  * Spark job: prune blocks by their `meta.json` time range (P10),
  * resolve postings from the index, fetch the pruned chunks through
  * [[TsdbSeriesPlan.build]] (P11 chunk pruning, P13 tombstones,
  * coalesced range reads, the `RecordCache`) and decode the XOR chunks.
  *
  * The output equals `TsQuerier.selectStreams` over the canonicalized
  * `graft-tsdb` view of the same blocks, series for series and sample
  * for sample:
  *  - labels with empty values are dropped, and series whose remaining
  *    labels are equal merge, across blocks as within one;
  *  - matchers decide as their Catalyst predicates do
  *    ([[LabelMatcher.evaluator]]), an absent label reading as "";
  *  - series are ordered as Catalyst orders the canonical label array:
  *    element by element, name then value, by UTF-8 bytes
  *    (`UTF8String.compareTo`), a prefix first;
  *  - samples are ordered by (t, v) as `sort_array` orders them, stably,
  *    so duplicates from time-overlapping blocks are kept;
  *  - series left with no samples are dropped.
  *
  * Chunks are fetched per block when the iterator is first asked for a
  * series; each series is decoded only when the iterator reaches it,
  * so memory follows the response, not the store.
  *
  * Everything about a block that does not depend on the request is
  * resolved once per view, in [[BlockSelect.open]], not per select: its
  * meta, its index path and qualified cache key, its tombstones, its
  * chunks dir, and each segment's path and key on first use
  * ([[BlockFiles]]). Blocks are immutable, so this holds for the life of
  * the view; a new or removed block makes a new view.
  *
  * @param blocks each block's meta and resolved files
  */
final class BlockSelect private (blocks: Seq[(TsdbBlock.BlockMeta, BlockFiles)]) {
  import BlockSelect._

  /** Series with samples in the inclusive range [mint, maxt] matching
    * every matcher. Regexes compile here, so an invalid one throws from
    * this call; all reads wait for the first `hasNext`. */
  def select(mint: Long, maxt: Long, matchers: Seq[LabelMatcher]): Iterator[SampleStream] = {
    val tests = matchers.map(m => (m.name, m.evaluator))
    // a matcher that rejects "" needs the label present with a matching
    // value: the index answers it. One that accepts "" also holds for
    // series without the label, so it filters the decoded labels
    val (byPostings, byLabels) = tests.partition { case (_, f) => !f("") }
    // `++` takes its operand by name: run starts at the first hasNext
    Iterator.empty ++ run(mint, maxt, byPostings, byLabels)
  }

  private def run(mint: Long, maxt: Long, byPostings: Seq[(String, String => Boolean)],
                  byLabels: Seq[(String, String => Boolean)]): Iterator[SampleStream] = {
    // selectLong also bounds block_start = t - pmod(t, BlockMs) to
    // [mint - BlockMs + 1, maxt]; given mint <= t <= maxt that adds
    // nothing unless the lower end wraps, so only then is it evaluated
    val lo = mint - TsSchema.BlockMs + 1
    val inWindow: Long => Boolean =
      if (lo <= mint) t => t >= mint && t <= maxt
      else t => t >= mint && t <= maxt && {
        val bs = t - Math.floorMod(t, TsSchema.BlockMs); bs >= lo && bs <= maxt
      }
    val series = mutable.HashMap.empty[Seq[Label], mutable.ArrayBuffer[() => Iterator[Sample]]]
    for ((meta, files) <- blocks if meta.minTime <= maxt && mint <= meta.maxTime) { // P10
      val idx = files.index()
      val labelsOf = postings(idx, byPostings).iterator.flatMap { ref =>
        val ls = canonical(idx.series(ref).labels)
        val values = ls.iterator.map(l => l.name -> l.value).toMap
        if (byLabels.forall { case (n, f) => f(values.getOrElse(n, "")) }) Some(ref -> ls) else None
      }.toMap
      val (_, plan, chunks) = TsdbSeriesPlan.build(
        TsdbInputPartition(files.dir, labelsOf.keys.toArray.sorted, mint, maxt, Nil), files, null)
      for ((ref, chunkRefs, ivs) <- plan)
        series.getOrElseUpdate(labelsOf(ref), mutable.ArrayBuffer.empty) += (() =>
          chunkRefs.iterator.flatMap(c => XorChunk.decode(chunks(c).data))
            .filter(s => inWindow(s.t) && !Tombstones.deleted(ivs, s.t)))
    }
    sortByLabels(series.keys.toSeq).iterator.flatMap { ls =>
      val samples = series(ls).iterator.flatMap(_()).toArray
      if (samples.isEmpty) None
      else {
        java.util.Arrays.sort(samples, SampleOrder) // stable (TimSort)
        Some(SampleStream(ls.iterator.map(l => l.name -> l.value).toMap,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(samples)))
      }
    }
  }
}

object BlockSelect {
  /** A select over the blocks under `dirs`, reading each `meta.json`
    * and tombstones file and resolving each path once. */
  def open(dirs: Seq[String], conf: Configuration): BlockSelect =
    new BlockSelect(dirs.map(d => TsdbBlock.readMeta(d, conf) -> new BlockFiles(d, conf)))

  /** Postings refs of the series carrying a value every matcher accepts
    * (P6/P7 value enumeration, P8 intersection); all series when there
    * is no such matcher. */
  private def postings(idx: TsdbIndex.IndexReader,
                       ms: Seq[(String, String => Boolean)]): Seq[Long] =
    if (ms.isEmpty) idx.allPostings
    else ms.map { case (n, f) =>
      idx.labelValues(n).iterator.filter(f).flatMap(v => idx.postings(n, v)).toSet
    }.reduce(_ intersect _).toSeq

  private def utf8(s: String) = UTF8String.fromString(s)

  private def compareLabel(a: Label, b: Label): Int = {
    val c = utf8(a.name).compareTo(utf8(b.name))
    if (c != 0) c else utf8(a.value).compareTo(utf8(b.value))
  }

  /** `TsSchema.canonicalize`'s label array: empty values dropped, then
    * `array_sort` over (name, value). */
  private def canonical(labels: Seq[Label]): Seq[Label] =
    labels.filter(_.value.nonEmpty).sortWith(compareLabel(_, _) < 0).toVector

  /** Catalyst's ordering of the canonical label arrays. */
  private def sortByLabels(keys: Seq[Seq[Label]]): Seq[Seq[Label]] = {
    val bytes = keys.map(k => k -> k.flatMap(l => Seq(utf8(l.name), utf8(l.value))).toArray)
    bytes.sortWith { case ((_, a), (_, b)) =>
      var i = 0
      var c = 0
      while (c == 0 && i < a.length && i < b.length) { c = a(i).compareTo(b(i)); i += 1 }
      (if (c != 0) c else Integer.compare(a.length, b.length)) < 0
    }.map(_._1)
  }

  /** `sort_array`'s order on struct(t, v): t, then v with Spark's double
    * comparison (-0.0 equals 0.0, NaN above everything). */
  private val SampleOrder: java.util.Comparator[Sample] = (a, b) => {
    val c = java.lang.Long.compare(a.t, b.t)
    if (c != 0) c else if (a.v == b.v) 0 else java.lang.Double.compare(a.v, b.v)
  }
}
