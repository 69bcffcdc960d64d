package graft.operators

import graft.SparkSpec
import graft.streaming.EventStreams
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal: binary rows flow through batched decode stub") {
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "image", "hello bytes".getBytes("UTF-8"), Row("image/png", 4, 4, null)),
        Row(2L, "image", null, Row(null, null, null, null)),
        Row(3L, "audio", Array.fill(2048)(7.toByte), Row("audio/wav", null, null, 1000L)))),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    def features(r: org.apache.spark.sql.Row): Seq[Float] =
      r.getAs[scala.collection.Seq[Float]]("features").toSeq
    assert(math.abs(features(feats(1L)).sum - 1.0f) < 1e-6)
    assert(feats(2L).getAs[Int]("width") === 0) // null bytes -> zero features
    assert(feats(3L).getAs[Int]("height") === 3) // 2048/1024+1
    // determinism: same bytes, same features
    val again = Multimodal.extractFeatures(media).collect()
      .map(r => r.getAs[Long]("media_id") -> features(r)).toMap
    assert(again(1L) === features(feats(1L)))
  }

  test("multimodal: real PNG/JPEG bytes decode via imageio with per-channel histograms") {
    import java.awt.image.BufferedImage
    def imgBytes(format: String, imgType: Int): Array[Byte] = {
      val img = new BufferedImage(8, 4, imgType)
      for (x <- 0 until 8; y <- 0 until 4)
        // known intensities: red=255 (bucket 7), green=0 (bucket 0),
        // blue=128 (bucket 4) for every pixel
        img.setRGB(x, y, (255 << 16) | (0 << 8) | 128)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, out)
      out.toByteArray
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "image", imgBytes("png", BufferedImage.TYPE_3BYTE_BGR),
          Row("image/png", null, null, null)),
        Row(2L, "image", imgBytes("jpg", BufferedImage.TYPE_3BYTE_BGR),
          Row("image/jpeg", null, null, null)),
        Row(3L, "image", "not an image at all".getBytes("UTF-8"),
          Row("image/png", null, null, null)))),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap

    val png = feats(1L)
    assert(png.getAs[String]("decoder") === "imageio")
    assert(png.getAs[Int]("width") === 8)
    assert(png.getAs[Int]("height") === 4)
    assert(png.getAs[Int]("channels") === 3)
    val f = png.getAs[scala.collection.Seq[Float]]("features")
    assert(f.length === 24) // 3 channels x 8 buckets
    // BGR raster: band 0 = red, band 1 = green, band 2 = blue in sample
    // order — assert channel histograms are one-hot at the known buckets
    // and each channel sums to 1
    (0 until 3).foreach { c =>
      assert(math.abs(f.slice(c * 8, c * 8 + 8).sum - 1.0f) < 1e-6)
    }
    assert(f.zipWithIndex.filter(_._1 > 0.99f).map(_._2).toSet ===
      Set(0 * 8 + 7, 1 * 8 + 0, 2 * 8 + 4)) // r->7, g->0, b->4

    // JPEG is lossy but a constant-color image stays in the same buckets
    val jpg = feats(2L)
    assert(jpg.getAs[String]("decoder") === "imageio")
    assert(jpg.getAs[Int]("width") === 8)
    assert(jpg.getAs[Int]("channels") === 3)

    // non-image bytes stay on the deterministic stub tier
    assert(feats(3L).getAs[String]("decoder") === "stub")
    assert(feats(3L).getAs[Int]("width") === "not an image at all".length)
  }

  test("multimodal: histogramDedup groups identical/near histograms, canonicalizes to min id") {
    import org.apache.spark.sql.functions.{col, lit}
    // ids 1,2: identical bytes (identical histograms); id 3: one byte
    // changed in a long payload (within eps); id 4: disjoint byte class
    val base = ("hello world, common payload " * 40).getBytes("UTF-8")
    val near = base.clone(); near(0) = 'j'.toByte
    val far = ("ZZZZ!!!!0000" * 100).getBytes("UTF-8")
    val rows = Seq((1L, base), (2L, base), (3L, near), (4L, far))
    val media = spark.createDataFrame(rows)
      .toDF("media_id", "bytes")
      .withColumn("modality", lit("image"))
      .select("media_id", "modality", "bytes")
    val got = Multimodal.histogramDedup(media)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got(1L) === ((1L, 0)))
    assert(got(2L) === ((1L, 1)))
    assert(got(3L) === ((1L, 1))) // near-identical histogram joins the component
    assert(got(4L) === ((4L, 0))) // distant histogram stays canonical alone
    intercept[IllegalArgumentException] {
      Multimodal.histogramDedup(media, eps = 0.01, cells = 32) // breaks pigeonhole bound
    }
    // cell mode (linear regime): identical histograms share every grid
    // cell; the far payload shares none
    val cell = Multimodal.histogramDedup(media, mode = "cell")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(cell(1L) === ((1L, 0)) && cell(2L) === ((1L, 1)))
    assert(cell(3L) === ((1L, 1))) // identical histogram ('h'/'j' same byte class)
    assert(cell(4L) === ((4L, 0)))
    intercept[IllegalArgumentException] {
      Multimodal.histogramDedup(media, mode = "cube")
    }
    // ball-mode maxBucket guard (round 13): capping below the dup
    // cluster's size drops its hot grid buckets — the cluster breaks
    // apart (each member canonical alone), the far row unaffected.
    // This is the 100×-density lever: candidates ≤ 4 × rows × cap
    val cappedBall = Multimodal.histogramDedup(media, maxBucket = 2L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cappedBall.values.forall(_ === 0)) // no pairs survive the cap
    // a cap ABOVE the cluster size changes nothing
    val wideBall = Multimodal.histogramDedup(media, maxBucket = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(wideBall(2L) === ((1L, 1)) && wideBall(4L) === ((4L, 0)))
  }

  test("multimodal: frame sampling generates stride-spaced frames") {
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(9L, "video", Array.fill(5000)(1.toByte), Row("video/mp4", null, null, 5000L)))),
      Multimodal.mediaSchema)
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 2, 4))
  }

  test("streaming: windowed counts over a MemoryStream match batch result") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.windowedCounts(df, "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_test").start()
    try {
      def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      stream.addData((t(0), "click", 1.0), (t(1), "click", 2.0),
        (t(6), "click", 4.0), (t(7), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .select(col("window.start").cast("string").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 10:05:00", "click", 1L, 4.0),
        ("2024-01-01 10:05:00", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming: map-only curation gates (gopher + langId) run on an unbounded stream") {
    // the per-doc quality tiers are pure projections, so they are
    // streaming-safe as-is; the corpus-statistics tiers (unigram/bigram
    // LM, DSIR, boilerplate) aggregate over the whole corpus and are
    // batch-only BY CONTRACT — their stats tables are build-once
    // artifacts a stream would join against, not recompute per batch
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("doc_id", "text")
    val q1 = TextAnalysis.gopherRules(df, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("gopher_stream").start()
    val q2 = TextAnalysis.langId(df, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("lang_stream").start()
    try {
      val good = "the quick brown foxes jumped over lazy sleeping dogs today "
      stream.addData((1L, good * 6), (2L, "x"))
      q1.processAllAvailable(); q2.processAllAvailable()
      val keep = spark.table("gopher_stream")
        .select("id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(keep(1L) === 1) // long, alpha, stopword-bearing doc passes
      assert(keep(2L) === 0) // one-token doc fails the word-count rule
      val lang = spark.table("lang_stream")
        .select("id", "pred_lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(lang(1L) === "en")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming: watermarked dedup collapses same-minute retries") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = stream.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.dedupedEvents(df).writeStream
      .outputMode("append").format("memory").queryName("dedup_test").start()
    try {
      def t(min: Int, sec: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
      // three retries of the same (user, type) inside minute 0, one more
      // in minute 1, a different user in minute 0
      stream.addData((t(0, 1), 1L, "click"), (t(0, 30), 1L, "click"),
        (t(0, 59), 1L, "click"), (t(1, 5), 1L, "click"), (t(0, 10), 2L, "click"))
      q.processAllAvailable()
      val rows = spark.table("dedup_test")
        .select("user_id", "event_type", "minute")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows === Set(
        (1L, "click", "2024-01-01 10:00"),
        (1L, "click", "2024-01-01 10:01"),
        (2L, "click", "2024-01-01 10:00")))
    } finally q.stop()
  }

  test("streaming: markdown file-source ingest runs the batch chunker incrementally") {
    val watch = tempDir("graft-stream")
    val out = tempDir("graft-stream-out")
    val q = EventStreams.markdownIngestStream(spark, watch.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_test").start()
    try {
      java.nio.file.Files.writeString(watch.resolve("a.md"),
        "# Title\n" + ("streaming ingest content with words. " * 10))
      q.processAllAvailable()
      val rows = spark.table("ingest_test").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getAs[String]("content").nonEmpty))
      val n1 = rows.length
      java.nio.file.Files.writeString(watch.resolve("b.md"),
        "# Second\n" + ("more incremental content arrives later on. " * 10))
      q.processAllAvailable()
      assert(spark.table("ingest_test").count() > n1) // incremental append
    } finally q.stop()
  }

  test("GMM soft clustering: probabilities per row sum to 1") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(3)
    val pts = ((0 until 15).map(i => (i.toLong, Array.fill(3)(rnd.nextGaussian().toFloat))) ++
      (15 until 30).map(i => (i.toLong, Array.fill(3)(8f + rnd.nextGaussian().toFloat))))
      .toDF("id", "vec")
    val out = ClusteringOps.gmmAssign(pts, "id", "vec", k = 2)
    val sums = out.select(aggregate(col("probabilities"), lit(0.0), _ + _).as("s"))
      .collect().map(_.getDouble(0))
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-6))
    assert(out.select("clusterId").distinct().count() === 2)
  }

  test("streaming: stateful sessionization emits gap-separated sessions") {
    val events = Seq((1L, 100L), (1L, 200L), (1L, 5000L), (2L, 50L))
      .toDS()
    import EventStreams._
    implicit val e1 = org.apache.spark.sql.Encoders.product[SessionState]
    implicit val e2 = org.apache.spark.sql.Encoders.product[SessionOut]
    val sessions = EventStreams.sessionize(events, gapSec = 1800)
      .collect().map(s => (s.userId, s.startSec, s.endSec, s.nEvents)).toSet
    assert(sessions === Set(
      (1L, 100L, 200L, 2), (1L, 5000L, 5000L, 1), (2L, 50L, 50L, 1)))
  }

  test("streaming: sessionizeStream carries the open session across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    implicit val e1 = org.apache.spark.sql.Encoders.product[SessionState]
    implicit val e2 = org.apache.spark.sql.Encoders.product[SessionOut]
    val stream = MemoryStream[(Long, Long)]
    val q = EventStreams.sessionizeStream(stream.toDS(), gapSec = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    try {
      stream.addData((1L, 100L), (1L, 200L))
      q.processAllAvailable()
      // session still open — the batch fold would have emitted (100,200,2)
      assert(spark.table("sess_test").isEmpty,
        "open session must not emit at a micro-batch boundary")
      stream.addData((1L, 300L))
      q.processAllAvailable()
      assert(spark.table("sess_test").isEmpty)
      // a later event beyond the gap closes the SINGLE session spanning
      // all three micro-batched events
      stream.addData((1L, 50000L))
      q.processAllAvailable()
      val got = spark.table("sess_test").as[SessionOut].collect()
        .map(s => (s.userId, s.startSec, s.endSec, s.nEvents)).toSet
      assert(got === Set((1L, 100L, 300L, 3)))
    } finally q.stop()
  }
}
