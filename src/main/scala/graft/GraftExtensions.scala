package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.CosineSimilarityExpr

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so plain `spark.sql` users get the same
  * surface as the Scala API. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * standard third-party extension mechanism (no session rebuild, no
  * temp-function scoping).
  *
  * Loading the extension also defaults Spark's generated-code cache cap
  * to [[GraftExtensions.CodegenCacheEntries]] (see there); a value the
  * user set wins.
  *
  *  - `graft_cosine(a, b)` — codegen'd cosine similarity over numeric
  *    arrays ([[graft.functions.VectorExpressions.CosineSimilarityExpr]])
  *  - `graft_decode_chunk(bytes)` / `graft_encode_chunk(samples)` —
  *    reference-format XOR chunk codec (migration path, SURVEY.md §7.3)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlBridge.defaultContextConf(
      GraftExtensions.CodegenCacheKey, GraftExtensions.CodegenCacheEntries.toString)
    // P7 regex matchers → label-value enumeration → postings (`In`)
    // pushdown for the graft-tsdb DSv2 source; runs in the operator
    // optimization batch, before V2 scan pushdown.
    ext.injectOptimizerRule(_ => graft.tsdb.datasource.TsdbRegexRewrite)
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(a, b) takes two array arguments")
        GraftSqlBridge.toCatalyst(
          graft.functions.VectorExpressions.cosine_native(
            GraftSqlBridge.column(args(0)), GraftSqlBridge.column(args(1))))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[graft.functions.SimhashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash(text) takes one argument")
        GraftSqlBridge.toCatalyst(
          graft.functions.MinhashExpressions.simhash_native(
            GraftSqlBridge.column(args.head)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[graft.functions.MinhashPackedExpr].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 3 || args.length == 4,
          "graft_minhash(text, shingleSize, numHashes[, numBands]) -> struct(hs, sig, bands)")
        import org.apache.spark.sql.catalyst.expressions.Literal
        def intArg(i: Int): Int = args(i) match {
          case Literal(v: Int, _) => v
          case other => sys.error(s"graft_minhash: argument ${i + 1} must be an int literal, got $other")
        }
        GraftSqlBridge.toCatalyst(
          graft.functions.MinhashExpressions.minhash_packed(
            GraftSqlBridge.column(args.head), intArg(1), intArg(2),
            if (args.length == 4) intArg(3) else 0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_decode_chunk"),
      new ExpressionInfo("graft.functions", "graft_decode_chunk"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_decode_chunk(bytes) takes one argument")
        GraftSqlBridge.toCatalyst(
          graft.functions.tsdb_decode_chunk(GraftSqlBridge.column(args.head)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_encode_chunk"),
      new ExpressionInfo("graft.functions", "graft_encode_chunk"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_encode_chunk(samples) takes one argument")
        GraftSqlBridge.toCatalyst(
          graft.functions.tsdb_encode_chunk(GraftSqlBridge.column(args.head)))
      }))
    // media decoders + web-text ops: one unary registration each
    Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "graft_pcm_stats" -> graft.functions.AudioPcmStatsExpr.audio_pcm_stats,
      "graft_audio_frame_walk" ->
        graft.functions.AudioFrameWalkExpr.audio_frame_walk,
      "graft_bmp_pixels" -> graft.functions.ImagePixelStatsExpr.image_pixel_stats,
      "graft_png_pixels" -> graft.functions.PngPixelStatsExpr.png_pixel_stats,
      "graft_gif_pixels" -> graft.functions.GifPixelStatsExpr.gif_pixel_stats,
      "graft_jpeg_pixels" -> graft.functions.JpegPixelStatsExpr.jpeg_pixel_stats,
      "graft_any_pixels" -> graft.functions.AnyPixelStatsExpr.any_pixel_stats,
      "graft_webp_pixels" -> graft.functions.WebpPixelStatsExpr.webp_pixel_stats,
      "graft_image_container" ->
        graft.functions.ImageContainerExpr.image_container,
      "graft_image_dhash" -> graft.functions.ImageDHashExpr.image_dhash,
      "graft_video_frame_hashes" ->
        (c => graft.functions.VideoFrameHashesExpr.video_frame_hashes(c)),
      "graft_audio_window_fp" ->
        (c => graft.functions.AudioWindowFingerprintsExpr
          .audio_window_fingerprints(c)),
      "graft_audio_fingerprint" ->
        graft.functions.AudioFingerprintExpr.audio_fingerprint,
      "graft_video_dhash" -> graft.functions.VideoDHashExpr.video_dhash,
      "graft_media_header" -> graft.functions.MediaHeaderExpr.media_header,
      "graft_audio_header" -> graft.functions.AudioHeaderExpr.audio_header,
      "graft_video_header" -> graft.functions.VideoHeaderExpr.video_header,
      "graft_ebml_header" -> graft.functions.EbmlHeaderExpr.ebml_header,
      "graft_ogg_header" -> graft.functions.OggHeaderExpr.ogg_header,
      "graft_deflate_ratio" ->
        graft.functions.DeflateRatioExpr.deflate_ratio,
      "graft_html_text" -> graft.ops.WebText.htmlToText,
      "graft_html_title" -> graft.ops.WebText.htmlTitle,
      "graft_html_main" -> (c => graft.ops.WebText.mainContent(c)),
      "graft_url_canon" -> graft.ops.WebText.canonicalizeUrl
    ).foreach { case (name, fn) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"$name(x) takes one argument")
          GraftSqlBridge.toCatalyst(fn(GraftSqlBridge.column(args.head)))
        }))
    }
    // aggregate: the analyzer wraps a bare AggregateFunction from a
    // registry builder in its AggregateExpression during resolution
    ext.injectFunction((
      new FunctionIdentifier("graft_bottom_k_sample"),
      new ExpressionInfo(
        classOf[graft.functions.SampleAggregates.BottomKSampleAgg].getName,
        "graft_bottom_k_sample"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_bottom_k_sample(h, v, s) takes (hash, value, int-literal size)")
        import org.apache.spark.sql.catalyst.expressions.Literal
        val s = args(2) match {
          case Literal(v: Int, _) => v
          case other => sys.error(
            s"graft_bottom_k_sample: s must be an int literal, got $other")
        }
        graft.functions.SampleAggregates.BottomKSampleAgg(args(0), args(1), s)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll"),
      new ExpressionInfo(
        classOf[graft.functions.SampleAggregates.HllSketchAgg].getName,
        "graft_hll"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          "graft_hll(key[, m]) takes a key and an optional int-literal m")
        import org.apache.spark.sql.catalyst.expressions.Literal
        val m = if (args.length == 2) args(1) match {
          case Literal(v: Int, _) => v
          case other => sys.error(
            s"graft_hll: m must be an int literal, got $other")
        } else 64
        graft.functions.SampleAggregates.HllSketchAgg(args.head, m)
      }))
  }
}

object GraftExtensions {

  /** Static conf capping Spark's cache of compiled generated classes.
    * `CodeGenerator` reads it once per JVM, at its first compile. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Spark's default is 100, fewer than the distinct generated classes
    * of one run of the perfbench `pipeline_batch` queries, which repeat
    * in a cycle: every class then misses and Janino compiles it again on
    * every run. One run compiles 166 distinct classes on the sf0.001 test
    * data; in traced perfbench runs the timed passes still compiled for
    * 260 ms at a cap of 150, and for ~30 ms at every cap from 200 to 1000. 1000 leaves room for a session that mixes
    * several query families; each cached class keeps its loader in
    * metaspace, so the cap also bounds that. */
  val CodegenCacheEntries = 1000
}
