package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL-function surface registered by [[GraftExtensions]], on the
  * shared session (which loads them through `spark.sql.extensions`). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val s = SparkSpec.spark

  test("graft_bottom_k_sample aggregates from SQL, matches the Scala API") {
    import org.apache.spark.sql.functions._
    s.range(0, 1000)
      .select((col("id") % 4).cast("string").as("g"), col("id").as("uid"),
        col("id").cast("double").as("v"))
      .createOrReplaceTempView("qsk_rows")
    // SQL route: same md5-prefix hash as Dedup.hash60, s = 8
    val sql = s.sql(
      """SELECT g, e.h AS h, e.v AS v FROM (
        |  SELECT g, graft_bottom_k_sample(
        |    CAST(conv(substring(md5(concat('qsk', CAST(uid AS STRING))), 1, 15), 16, 10) AS BIGINT),
        |    v, 8) AS smp
        |  FROM qsk_rows GROUP BY g
        |) LATERAL VIEW explode(smp) AS e""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val api = graft.ops.Sketches.qsampleBottomK(
      s.table("qsk_rows"), col("g"), col("uid"), col("v"), s = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sql == api && api.size == 32)
  }

  test("media decoders and web-text ops are callable from SQL") {
    val html = "<html><title>T</title><body><script>x</script>" +
      "<p>hello &amp; world</p></body></html>"
    val row = s.sql(
      s"""SELECT graft_html_text('$html') AS t, graft_html_title('$html') AS ti,
         | graft_url_canon('HTTPS://WWW.Ex.com/a/?utm_source=x&b=2&a=1#f') AS u
         |""".stripMargin).head()
    assert(row.getString(0) == "T hello & world")
    assert(row.getString(1) == "T")
    assert(row.getString(2) == "https://ex.com/a?a=1&b=2")
    // decoders reach SQL: a real PNG through graft_png_pixels
    import org.apache.spark.sql.functions._
    import s.implicits._
    val png = Seq(Tuple1(graft.ops.Multimodal.buildPng(3L))).toDF("p")
    png.createOrReplaceTempView("png_rows")
    val f = s.sql("SELECT graft_png_pixels(p).n_pixels AS n FROM png_rows").head()
    assert(f.getLong(0) == (9 + 3 % 8) * (5 + 3 % 4))
    // perceptual fingerprints reach SQL: a real Y4M keyframe hash
    val y4m = Seq(Tuple1(graft.ops.Multimodal.buildY4m(2L))).toDF("p")
    y4m.createOrReplaceTempView("y4m_rows")
    val vh = s.sql("SELECT graft_video_dhash(p) AS h FROM y4m_rows").head()
    val viaColumn = y4m.select(graft.ops.Multimodal.videoDHash(col("p")))
      .head().getLong(0)
    assert(vh.getLong(0) == viaColumn)
    // the JPEG decoder and the sniffing decoder reach SQL: the same
    // scene in two containers, one hash, matching pixel stats
    val scene = {
      val (w, h, g) = graft.ops.MediaScenes.sceneGray(5L, "none")
      Seq((graft.ops.MediaScenes.jpegBytes(w, h, g),
        graft.ops.MediaScenes.bmpBytes(w, h, g))).toDF("jpg", "bmp")
    }
    scene.createOrReplaceTempView("scene_rows")
    val sc = s.sql(
      """SELECT graft_jpeg_pixels(jpg).sum_r AS jr,
        |  graft_any_pixels(bmp).sum_r AS br,
        |  graft_image_dhash(jpg) = graft_image_dhash(bmp) AS same
        |FROM scene_rows""".stripMargin).head()
    assert(sc.getLong(0) == sc.getLong(1) && sc.getBoolean(2))
    // temporal frame hashes reach SQL as an array
    val tfh = s.sql("SELECT graft_video_frame_hashes(p) AS hs FROM y4m_rows")
      .head().getSeq[Long](0)
    assert(tfh.nonEmpty)
    // container header walks reach SQL: dims for an undecodable
    // container (TIFF), WebM duration, Ogg/Opus duration
    val walks = Seq((
      graft.ops.MediaScenes.tiffDimsStub(800, 600, 3, bigEndian = true),
      graft.ops.MediaScenes.webmStub("webm", 1000000L, 2500.0, 2, Seq(32)),
      graft.ops.MediaScenes.oggStub(
        graft.ops.MediaScenes.opusHead(2, 312, 48000L), Seq(48312L))))
      .toDF("tif", "mkv", "oga")
    walks.createOrReplaceTempView("walk_rows")
    val wr = s.sql(
      """SELECT graft_media_header(tif).width AS w,
        |  graft_ebml_header(mkv).duration_ms AS d,
        |  graft_ogg_header(oga).duration_ms AS o
        |FROM walk_rows""".stripMargin).head()
    assert(wr.getInt(0) == 800 && wr.getLong(1) == 2500L &&
      wr.getLong(2) == 1000L)
    // null gate survives the SQL path too
    assert(s.sql("SELECT graft_image_dhash(CAST('nope' AS BINARY)) IS NULL")
      .head().getBoolean(0))
    assert(s.sql("SELECT graft_ebml_header(CAST('nope' AS BINARY)) IS NULL")
      .head().getBoolean(0))
    assert(s.sql("SELECT graft_ogg_header(CAST('nope' AS BINARY)) IS NULL")
      .head().getBoolean(0))
    assert(s.sql("SELECT graft_jpeg_pixels(CAST('nope' AS BINARY)) IS NULL")
      .head().getBoolean(0))
    assert(s.sql(
      "SELECT graft_audio_fingerprint(CAST('nope' AS BINARY)) IS NULL")
      .head().getBoolean(0))
  }

  test("graft_hll matches the register-frame HLL bit-for-bit, any layout") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 20000)
      .map(i => (s"g${i % 3}", (rnd.nextInt(5000) * 1337L)))
      .toDF("grp", "k")
    val viaFrame = graft.ops.Sketches.hllDistinct(df, col("grp"), col("k"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    df.createOrReplaceTempView("hll_rows")
    val viaSql = s.sql(
      "SELECT grp, graft_hll(k, 64) AS est FROM hll_rows GROUP BY grp")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaFrame) // bit-identical, not approximately equal
    // partition layout cannot move the estimate (max-monoid merge)
    val viaAgg13 = df.repartition(13)
      .groupBy(col("grp"))
      .agg(graft.functions.SampleAggregates.hll_sketch(col("k"), 64).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaAgg13 == viaFrame)
    // sanity: estimates are near the true per-group cardinality
    val truth = df.groupBy(col("grp"))
      .agg(countDistinct(col("k")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaFrame.foreach { case (g, est) =>
      assert(math.abs(est - truth(g)) / truth(g) < 0.25, s"$g: $est vs ${truth(g)}") }
  }

  test("graft_cosine is callable from SQL and matches the HOF formulation") {
    val r = s.sql(
      """SELECT graft_cosine(array(1.0d, 0.0d, 2.0d), array(2.0d, 1.0d, 4.0d)) AS c"""
    ).head().getDouble(0)
    val expected = 10.0 / (math.sqrt(5.0) * math.sqrt(21.0))
    assert(math.abs(r - expected) < 1e-12)
  }

  test("graft_simhash / graft_minhash are callable from SQL, match the Scala API") {
    val df = s.sql(
      "SELECT graft_simhash('the quick brown fox') AS sh, " +
        "graft_minhash('the quick brown fox jumps', 2, 8, 4) AS mh")
    val row = df.head()
    val expected = s.range(1).select(
      graft.ops.Dedup.simhash64(
        org.apache.spark.sql.functions.lit("the quick brown fox")).as("sh"),
      graft.functions.MinhashExpressions.minhash_packed(
        org.apache.spark.sql.functions.lit("the quick brown fox jumps"), 2, 8, 4).as("mh"))
      .head()
    assert(row.getLong(0) == expected.getLong(0))
    assert(row.getStruct(1) == expected.getStruct(1))
    // non-literal sizes are rejected with a clear error
    assertThrows[Exception] {
      s.sql("SELECT graft_minhash('x', 2, CAST(rand()*4 AS INT))").collect()
    }
  }

  test("chunk codec round-trips through SQL") {
    val out = s.sql(
      """SELECT graft_decode_chunk(graft_encode_chunk(
        |  array(named_struct('t', 1000L, 'v', 1.5d),
        |        named_struct('t', 2000L, 'v', 2.5d)))) AS ss""".stripMargin)
      .selectExpr("inline(ss)").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1000L, 1.5), (2000L, 2.5)))
  }
}
