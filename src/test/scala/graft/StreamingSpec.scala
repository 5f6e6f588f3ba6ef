package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming binding (SURVEY §2.J): the bounded testdata
  * drives streaming queries synchronously via AvailableNow/memory
  * sinks; results must agree with the batch plans. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .getOrCreate()

  // FileStreamSource needs a DIRECTORY of files (that's the stream);
  // the testdata table is a single parquet file, so stage it.
  lazy val eventsDir: String = {
    val dir = graft.Scratch.root + "/stream_src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/part-0.parquet"))
    dir
  }

  test("windowed Misra-Gries: per-window laws hold on the stream; " +
      "exact n per window") {
    val m = 3 // below the 5 event types, so decrements really happen
    // the events file's ts is either a timestamp or, when written as
    // TIMESTAMP(NANOS), a raw nanos long under nanosAsLong: stream it
    // with the file's own schema and convert the long vintage
    val schema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    val events =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      else raw
    val stream = graft.llm.HeavyHitters.windowedCandidates(
      events, tsCol = "ts", tokenCol = "event_type",
      windowDur = "1 hour", m = m)
    val q = stream.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("win_mg").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("win_mg").collect().map { r =>
      (r.getTimestamp(0),
        r.getMap[String, Long](1).toMap.map(identity), r.getLong(2))
    }
    assert(got.nonEmpty)
    val exact = graft.queries.Star.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .count().collect()
      .groupBy(_.getTimestamp(0))
      .view.mapValues(_.map(r => r.getString(1) -> r.getLong(2)).toMap)
      .toMap
    got.foreach { case (w, cand, n) =>
      val ex = exact(w)
      val total = ex.values.sum
      assert(n == total, s"window $w: $n vs $total")
      assert(cand.size <= m)
      val must = ex.filter(_._2 > total / (m + 1.0)).keySet
      assert(must.subsetOf(cand.keySet),
        s"window $w missing ${must -- cand.keySet}")
    }
  }

  test("windowed Misra-Gries: watermark closes windows and evicts " +
      "state — bounded state across many windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)] // (epoch seconds, token)
    val df = input.toDS().toDF("secs", "token")
      .withColumn("ts", col("secs").cast("timestamp"))
    val stream = graft.llm.HeavyHitters.windowedCandidates(
      df, tsCol = "ts", tokenCol = "token", windowDur = "1 hour", m = 3,
      watermark = "30 minutes")
    // Append mode is the eviction regime: a window's MG buffer leaves
    // the state store once the watermark passes its end (the 100×-scale
    // claim for windowedCandidates — m counters per OPEN window only)
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("win_mg_evict").start()
    val nWindows = 20
    var maxState = 0L
    try {
      (0 until nWindows).foreach { w =>
        val base = 3600L * w
        input.addData((0 until 60).map(i => (base + i * 60L, s"tok${i % 5}")))
        q.processAllAvailable()
        val seen = (Option(q.lastProgress).toSeq ++ q.recentProgress)
          .flatMap(_.stateOperators.map(_.numRowsTotal))
        maxState = (maxState +: seen).max
      }
      // sentinel far past the last window so the watermark closes it
      input.addData((3600L * (nWindows + 10L), "zz"))
      q.processAllAvailable()
    } finally q.stop()
    // every hour window closed and was emitted exactly once...
    val emitted = spark.table("win_mg_evict")
    assert(emitted.count() == nWindows)
    assert(emitted.select("n").collect().forall(_.getLong(0) == 60L))
    // ...while live state stayed at the open-window count, nowhere
    // near the total window count
    assert(maxState > 0 && maxState <= 4,
      s"state rows should track OPEN windows, got $maxState of $nWindows")
  }

  test("near-dup ingest: signature layer dedups within and across batches") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/ingest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    def doc(id: Long, t: String) = (id, t)
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content about distributed query engines"
    val textC = "yet another unrelated document describing parquet file layouts"
    // batch 1: A, dup-of-A (same text, higher id), B
    IngestStream.ingestBatch(
      Seq(doc(1, textA), doc(2, textA), doc(3, textB))
        .toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 0L)
    // batch 2: another dup of A (cross-batch), new C, and a doc too
    // short to carry a signature (must survive: near-dup can't match)
    IngestStream.ingestBatch(
      Seq(doc(4, textA), doc(5, textC), doc(6, "two words"))
        .toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 1L)
    val ids = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L, 6L), s"got $ids")
    // signature layer holds exactly the signed survivors (short doc 6
    // has no signature row by design)
    val sigIds = spark.read.parquet(sigDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 3L, 5L), s"got $sigIds")
  }

  test("blob ingest: byte-SimHash layer drops tampered re-uploads " +
       "within and across batches (codec-free)") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/ingest_blob"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    val rnd = new scala.util.Random(11)
    def blob(n: Int) = Array.fill[Byte](n)((rnd.nextInt(256) - 128).toByte)
    val a = blob(4096); val b = blob(4096); val c = blob(4096)
    def tamper(x: Array[Byte]) = {
      val y = x.clone(); y(7) = (y(7) ^ 0x11).toByte; y
    }
    val scheme = IngestStream.SigScheme.BlobSimHash()
    // batch 1: A, a tampered copy of A (within-batch dup), B
    IngestStream.ingestBatchWith(
      Seq((1L, a), (2L, tamper(a)), (3L, b)).toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 0L)
    // batch 2: tampered A again (cross-batch, must drop via the
    // layer), new C, and a 2-byte blob (no window -> always survives)
    IngestStream.ingestBatchWith(
      Seq((4L, tamper(a)), (5L, c), (6L, Array[Byte](9, 9)))
        .toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 1L)
    val ids = spark.read.parquet(corpusDir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L, 6L), s"got $ids")
    // layer holds one LONG per signed survivor
    val layer = spark.read.parquet(sigDir)
    assert(layer.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L))
    assert(layer.schema("simhash").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("perceptual ingest: ImagePhash layer drops re-encodes AND " +
       "near-identical edits across batches; junk survives") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/ingest_phash"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    def raster(seed: Int, edit: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y,
          ((x * 37 + y * 101 + seed * 13) % 256 << 16) |
          ((x * 59 + y * 17 + seed * 29) % 256 << 8) |
          (x * 7 + y * 43 + seed * 71) % 256)
      if (edit) for (y <- 0 until 2; x <- 0 until 2)
        img.setRGB(x, y, 0xFFFFFF)
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String) = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val scheme = IngestStream.SigScheme.ImagePhash()
    // batch 1: images A and B
    IngestStream.ingestBatchWith(
      Seq((1L, enc(raster(1, false), "png")),
          (2L, enc(raster(2, false), "png")))
        .toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 0L)
    // batch 2: BMP re-encode of A (byte-disjoint container, same
    // raster), an EDITED A (small perceptual distance), a new C, and
    // junk (no signature -> survives)
    IngestStream.ingestBatchWith(
      Seq((3L, enc(raster(1, false), "bmp")),
          (4L, enc(raster(1, true), "png")),
          (5L, enc(raster(3, false), "png")),
          (6L, "not an image".getBytes("UTF-8")))
        .toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 1L)
    val ids = spark.read.parquet(corpusDir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 5L, 6L), s"got $ids")
    // the signature layer holds one LONG per signable survivor
    val sigIds = spark.read.parquet(sigDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 5L), s"got $sigIds")
  }

  test("perceptual ingest: AudioFingerprint layer drops container " +
       "re-encodes (WAV->AIFF); short clips survive unsigned") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/ingest_afp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    def clip(seed: Int, nFrames: Int, aiff: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](nFrames * 2)
      for (i <- 0 until nFrames) {
        val v = (((i.toLong * (2 * seed + 1) * 2654435761L) % 65536L)
          - 32768L).toInt
        if (aiff) {
          pcm(2 * i) = ((v >> 8) & 0xFF).toByte
          pcm(2 * i + 1) = (v & 0xFF).toByte
        } else {
          pcm(2 * i) = (v & 0xFF).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        }
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, aiff)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        if (aiff) javax.sound.sampled.AudioFileFormat.Type.AIFF
        else javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val scheme = IngestStream.SigScheme.AudioFingerprint()
    IngestStream.ingestBatchWith(
      Seq((1L, clip(1, 256, aiff = false)),
          (2L, clip(2, 256, aiff = false)))
        .toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 0L)
    // batch 2: AIFF of clip 1 (same PCM -> Hamming 0 -> drop), a
    // sub-64-frame clip (unsignable -> survives), a new clip
    IngestStream.ingestBatchWith(
      Seq((3L, clip(1, 256, aiff = true)),
          (4L, clip(9, 32, aiff = false)),
          (5L, clip(3, 256, aiff = false)))
        .toDF("media_id", "content"),
      corpusDir, sigDir, scheme, "media_id", batchId = 1L)
    val ids = spark.read.parquet(corpusDir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L, 5L), s"got $ids")
  }

  test("mediaNearDupIngest end-to-end: binaryFile STREAM source, " +
       "checkpointed across runs — a later-arriving re-encode drops " +
       "against the standing corpus") {
    import graft.streaming.IngestStream
    import graft.llm.Multimodal
    val base = graft.Scratch.root + "/media_ingest_e2e"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val srcDir = new java.io.File(s"$base/src"); srcDir.mkdirs()
    def raster(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y,
          ((x * 37 + y * 101 + seed * 13) % 256 << 16) |
          ((x * 59 + y * 17 + seed * 29) % 256 << 8) |
          (x * 7 + y * 43 + seed * 71) % 256)
      img
    }
    def write(name: String, fmt: String, seed: Int): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(raster(seed), fmt, out))
      java.nio.file.Files.write(
        new java.io.File(srcDir, name).toPath, out.toByteArray)
    }
    write("a.png", "png", 1)
    write("b.png", "png", 2)
    val q1 = IngestStream.mediaNearDupIngest(
      Multimodal.readBlobStream(spark, srcDir.toString, "image"),
      s"$base/corpus", s"$base/sigs",
      IngestStream.SigScheme.ImagePhash())
    assert(q1.awaitTermination(60000),
      "stream must terminate within 60s")
    assert(spark.read.parquet(s"$base/corpus").count() == 2)
    // run 2, SAME checkpoint: only the new files are read — a BMP
    // re-encode of a.png drops against the layer, a new image lands
    write("c.bmp", "bmp", 1)
    write("d.png", "png", 3)
    val q2 = IngestStream.mediaNearDupIngest(
      Multimodal.readBlobStream(spark, srcDir.toString, "image"),
      s"$base/corpus", s"$base/sigs",
      IngestStream.SigScheme.ImagePhash())
    assert(q2.awaitTermination(60000),
      "stream must terminate within 60s")
    val kept = spark.read.parquet(s"$base/corpus")
      .selectExpr("element_at(meta, 'path') AS p").collect()
      .map(r => r.getString(0).split('/').last).toSet
    assert(kept == Set("a.png", "b.png", "d.png"), s"got $kept")
  }

  test("fertilityMonitor: streamed batch summary equals the batch " +
       "encode under the FROZEN model; OOV batch raises unk + " +
       "fertility") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/fertility_mon"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // train corpus: vocab after 1 merge = {a, b, q, z, qz}
    val train = Seq((1L,
      (Seq.fill(3)("qz") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b"))
        .mkString(" "))).toDF("doc_id", "text")
    // stream: in-vocab doc + a drifted doc with OOV chars
    val in = Seq((10L, "abqz qz a"), (11L, "xx yz"))
      .toDF("doc_id", "text")
    new java.io.File(s"$base/src").mkdirs()
    in.coalesce(1).write.mode("overwrite").parquet(s"$base/src")
    val stream = spark.readStream.schema(in.schema)
      .parquet(s"$base/src")
    val q = IngestStream.fertilityMonitor(stream, train,
      s"$base/report", merges = 1)
    assert(q.awaitTermination(60000),
      "stream must terminate within 60s")
    val rep = spark.read.parquet(s"$base/report").head()
    // doc 10: abqz->3 + qz->1 + a->1 pieces over 3 tokens;
    // doc 11: xx, yz both OOV -> 1 [UNK] piece + 1 unk word each
    assert(rep.getAs[Long]("n_docs") == 2L, s"got $rep")
    assert(rep.getAs[Long]("n_tokens") == 5L, s"got $rep")
    assert(rep.getAs[Long]("n_wp_tokens") == 7L, s"got $rep")
    assert(rep.getAs[Long]("n_unk_words") == 2L, s"got $rep")
    assert(rep.getAs[Double]("fertility") == 1.4, s"got $rep")
    // streamed report == the batch op on the same data (the monitor
    // contract every other face keeps)
    val direct = graft.llm.TextAnalysis.wordpieceEncode(train,
        merges = 1, applyTo = Some(in))
      .agg(org.apache.spark.sql.functions.sum($"n_wp_tokens"))
      .head().getLong(0)
    assert(direct == rep.getAs[Long]("n_wp_tokens"))
  }

  test("ingestBatch with batchId: at-least-once replay is idempotent") {
    import spark.implicits._
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/ingest_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content about distributed query engines"
    val batch0 = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    IngestStream.ingestBatch(batch0, corpusDir, sigDir, threshold = 0.5,
      batchId = 0L)
    // crash-and-replay: foreachBatch re-fires the SAME batch under the
    // SAME id after its first attempt already published both outputs —
    // the worst case: without the self-exclusion guard every survivor
    // would match its own prior signatures and the corpus would empty;
    // without keyed overwrite every row would double
    IngestStream.ingestBatch(batch0, corpusDir, sigDir, threshold = 0.5,
      batchId = 0L)
    val rows = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows.sorted == Seq(1L, 2L),
      s"replay must replace, not append or self-erase: got $rows")
    // the NEXT batch still dedups against batch 0's signature partition
    IngestStream.ingestBatch(
      Seq((3L, textA), (4L, "brand new unrelated text about file formats"))
        .toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 1L)
    val ids = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L), s"got $ids")
    val sigIds = spark.read.parquet(sigDir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 4L), s"got $sigIds")
  }

  test("gate deployment chain e2e: quality_gate pipeline trains and " +
       "publishes the artifact, gateMonitor scores micro-batches " +
       "under it, and the threshold sweep over the monitor's output " +
       "equals the batch sweep") {
    import graft.llm.TextAnalysis
    import graft.config.CLI
    val base = graft.Scratch.root + "/gate_deploy_e2e"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(s"$base/src.parquet").mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      java.nio.file.Paths.get(s"$base/src.parquet/part-0.parquet"))
    // 1. train + publish through the CONFIG-BOUND pipeline (the
    //    deployed artifact, model card included)
    val specFile = s"$base/gate.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(specFile),
      s"""data: {teacherToken: spark, rounds: 4}
         |locations:
         |  /documents: $base/src.parquet
         |  /Gate/weights: $base/weights
         |  /Outputs/scores: $base/scores.parquet
         |""".stripMargin)
    CLI.run(Array("quality_gate", "run", specFile), spark)
    val wLayer = Seq(s"$base/weights", s"$base/weights.parquet")
      .find(d => new java.io.File(d).exists()).get
    // 2. score two doc-disjoint batches under the FROZEN layer read
    //    back from disk (dim+1 `(bucket, w)` rows), so the artifact
    //    composes across batch boundaries
    val docsStatic = spark.read.parquet(s"$base/src.parquet")
    val w = spark.read.parquet(wLayer).orderBy(col("bucket"))
      .collect().map(_.getDouble(1))
    assert(w.length >= 2, s"not a gate-weights layer: ${w.length} rows")
    val mScores = Seq(0, 1)
      .map(h => TextAnalysis.applyLinearGate(
        docsStatic.filter(col("doc_id") % 2 === h), w))
      .reduce(_ unionByName _)
      .select("doc_id", "score")
    // 3. threshold sweep over the batched scores == the batch sweep
    //    over the pipeline's own scores (same labels, same corpus)
    val labels = docsStatic.select(col("doc_id"),
      array_contains(TextAnalysis.tokens(col("text")), "spark")
        .cast("int").as("label"))
    def sweep(scored: org.apache.spark.sql.DataFrame) =
      TextAnalysis.gateThresholdSweep(
          scored.join(labels, Seq("doc_id")))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .sortBy(_._1)
    assert(mScores.count() == docsStatic.count(),
      "the artifact must score every doc across batches")
    val batchScores = spark.read.parquet(s"$base/scores.parquet")
      .select("doc_id", "score")
    val sm = sweep(mScores)
    assert(sm.nonEmpty && sm.sameElements(sweep(batchScores)),
      "threshold sweep over batched scores must equal the batch sweep")
  }

  test("streaming bloom decontamination gate matches the batch filter") {
    // the bloom filter is a plan literal, so the same stateless
    // scan->filter gates an unbounded stream: no state store, no
    // shuffle, no benchmark re-read per batch
    import graft.llm.Contamination
    val dir = graft.Scratch.root + "/decon_src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/part-0.parquet"))
    val docsStatic = spark.read.parquet(dir)
    val benchmark = docsStatic.filter(col("doc_id") % 10 === 0)
    val words = Contamination.bloomWords(benchmark, n = 5)
    val shift = (60 - Contamination.BloomLog2M) /
      (Contamination.BloomK - 1)
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.filter(graft.functions.SketchExprs.bloomHits(
        Contamination.shingleHashes(col("text"), 5), words,
        Contamination.BloomK, Contamination.BloomLog2M, shift) === 0L)
    val stream = gate(spark.readStream.schema(docsStatic.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .filter(col("doc_id") % 10 =!= 0))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decon").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("decon").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = gate(docsStatic.filter(col("doc_id") % 10 =!= 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && want.nonEmpty,
      s"stream gate diverged: ${got.size} vs ${want.size}")
  }

  test("streaming count-min: batch sketches merge cell-wise to the " +
       "union sketch; replay is idempotent; estimates never " +
       "underestimate") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_stream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val d1 = Seq((1L, "a a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val d2 = Seq((3L, "a e e"), (4L, "c")).toDF("doc_id", "text")
    IngestStream.cmsBatch(d1, s"$base/sketch", batchId = 0L)
    IngestStream.cmsBatch(d2, s"$base/sketch", batchId = 1L)
    val layer = IngestStream.cmsLayerRead(spark, s"$base/sketch")
    // the merged layer equals one batch-mode sketch of the union
    val union = graft.llm.HeavyHitters.cmsSketch(
      d1.unionByName(d2).select(explode(
        graft.llm.TextAnalysis.tokens(col("text"))).as("token")))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("row", "bucket", "cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells(layer) == cells(union) && cells(layer).nonEmpty)
    // at-least-once replay: same batch id republished -> unchanged
    IngestStream.cmsBatch(d2, s"$base/sketch", batchId = 1L)
    // the overwrite rewrote part files under the same path — drop
    // the session's cached file listing before the fresh read
    spark.catalog.refreshByPath(s"$base/sketch")
    val layer2 = IngestStream.cmsLayerRead(spark, s"$base/sketch")
    assert(cells(layer2) == cells(union),
      "replay must replace, never double-count")
    // point estimates from the layer are one-sided vs exact counts
    val probes = Seq("a", "b", "c", "d", "e").toDF("token")
    val est = graft.llm.HeavyHitters.cmsLookup(layer2, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("a" -> 3L, "b" -> 2L, "c" -> 3L, "d" -> 1L,
      "e" -> 2L)
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"CMS underestimated $t: ${est(t)} < $c")
    }
    // empty layer: an unpublished dir reads as an empty sketch
    assert(IngestStream.cmsLayerRead(spark, s"$base/nothing")
      .count() == 0L)
    // trending against the layer: a token that explodes vs history
    // is flagged; a steady one is not; history is never rescanned
    val burst = Seq.fill(8)("zz") ++ Seq("a")   // 'a' history ~3
    val flagged = graft.llm.HeavyHitters.trendingTokens(
        burst.toDF("token"), layer2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3)))).toMap
    assert(flagged.contains("zz") && flagged("zz")._1 == 8L)
    assert(!flagged.contains("a"),
      s"steady token must not trend: $flagged")
  }

  test("ivfMonitor: streamed delta batches serve the one-shot-build " +
       "ranking; compaction after the run keeps it; the index must " +
       "pre-exist with its sidecar") {
    import graft.llm.Similarity
    val base = graft.Scratch.root + "/ivf_stream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroidsUncached(emb0, nCells = 8,
      iters = 1)
    // the standing index: built on a third of the corpus; the other
    // two thirds arrive as two delta batches
    Similarity.ivfWriteIndex(emb0.filter(col("vec_id") % 3 === 0),
      cents, s"$base/idx")
    Seq(1, 2).foreach { h =>
      Similarity.ivfAppendBatch(spark, s"$base/idx",
        emb0.filter(col("vec_id") % 3 === h), batchId = h.toLong)
    }
    val queries = emb0.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val oneShot = norm(Similarity.ivfTopKWith(cents, emb0, queries,
      k = 5))
    assert(oneShot.nonEmpty && norm(Similarity.ivfTopKIndexedAuto(
      spark, s"$base/idx", queries, k = 5)) == oneShot,
      "delta batches must serve the one-shot-build ranking")
    // two delta batches landed
    assert(new java.io.File(s"$base/idx/_delta").listFiles()
      .count(_.getName.startsWith("ingest_batch=")) == 2)
    val (rowsM, _) = Similarity.ivfCompactDelta(spark, s"$base/idx")
    assert(rowsM == emb0.filter(col("vec_id") % 3 =!= 0).count())
    assert(norm(Similarity.ivfTopKIndexedAuto(spark, s"$base/idx",
      queries, k = 5)) == oneShot, "compaction must not change serving")
    // no index, no sidecar -> the append fails fast, not silently
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(spark, s"$base/nonexistent", emb0,
        batchId = 0L)
    }
    assert(ex.getMessage.contains("sidecar"),
      s"missing-sidecar append must fail fast: ${ex.getMessage}")
  }

  test("ivfFitMonitor: an in-distribution batch gauges low, a " +
       "planted drifted batch raises mean and beyond-tau mass; " +
       "streamed reports equal the batch gauge") {
    import graft.streaming.IngestStream
    import graft.llm.Similarity
    import spark.implicits._
    val base = graft.Scratch.root + "/ivf_fit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroidsUncached(emb0, nCells = 8,
      iters = 1)
    Similarity.ivfWriteIndex(emb0, cents, s"$base/idx")
    // batch A: the training corpus itself (fits); batch B: shifted
    // far off every centroid (drifts)
    val drifted = emb0.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x + lit(100.0f)).as("embedding"))
    emb0.coalesce(1).write.parquet(s"$base/a")
    drifted.coalesce(1).write.parquet(s"$base/b")
    Seq("a", "b").foreach { h =>
      val part = new java.io.File(s"$base/$h").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$src/$h.parquet"))
    }
    val tau = 1.0
    val q = IngestStream.ivfFitMonitor(
      spark.readStream.schema(emb0.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      s"$base/idx", s"$base/report", tau)
    try { q.processAllAvailable() } finally q.stop()
    def rep(df: org.apache.spark.sql.DataFrame) = df
      .select("n_vectors", "mean_sqdist", "n_beyond", "frac_beyond")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3))).toSeq
    val reports = spark.read.parquet(s"$base/report")
      .select(col("ingest_batch").cast("long").as("b"),
        col("n_vectors"), col("mean_sqdist"), col("n_beyond"),
        col("frac_beyond"))
      .orderBy("b").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(reports.length == 2, s"two batches, two reports: $reports")
    val (fit, drift) =
      if (reports(0)._2 < reports(1)._2) (reports(0), reports(1))
      else (reports(1), reports(0))
    assert(drift._2 > fit._2 * 100,
      s"planted shift must dominate the gauge: $fit vs $drift")
    assert(drift._4 == 1.0 && fit._4 < 1.0,
      s"beyond-tau mass must flag the drifted batch: $fit vs $drift")
    // streamed rows == the batch gauge on the same frames
    assert(reports.toSet ==
      (rep(Similarity.indexFitReport(emb0, cents, tau)) ++
        rep(Similarity.indexFitReport(drifted, cents, tau))).toSet,
      "stream must equal batch")
  }

  test("pqFitMonitor: gauges quantization error against the " +
       "standing codebook sidecar; a planted drifted batch flags; " +
       "streamed reports equal the batch gauge") {
    import graft.streaming.IngestStream
    import graft.llm.Similarity
    val base = graft.Scratch.root + "/pq_fit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    val emb0 = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = Similarity.pqCodebooks(emb0, m = 4, k = 8, iters = 1)
    Similarity.pqWriteIndex(emb0, books, s"$base/idx")
    val drifted = emb0.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x + lit(100.0f)).as("embedding"))
    emb0.coalesce(1).write.parquet(s"$base/a")
    drifted.coalesce(1).write.parquet(s"$base/b")
    Seq("a", "b").foreach { h =>
      val part = new java.io.File(s"$base/$h").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$src/$h.parquet"))
    }
    val tau = 1.0
    val q = IngestStream.pqFitMonitor(
      spark.readStream.schema(emb0.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      s"$base/idx", s"$base/report", tau)
    try { q.processAllAvailable() } finally q.stop()
    def rep(df: org.apache.spark.sql.DataFrame) = df
      .select("n_vectors", "mean_qerr", "n_beyond", "frac_beyond")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3))).toSeq
    val reports = spark.read.parquet(s"$base/report")
      .select(col("ingest_batch").cast("long").as("b"),
        col("n_vectors"), col("mean_qerr"), col("n_beyond"),
        col("frac_beyond"))
      .orderBy("b").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(reports.length == 2, s"two batches, two reports: $reports")
    val (fit, drift) =
      if (reports(0)._2 < reports(1)._2) (reports(0), reports(1))
      else (reports(1), reports(0))
    assert(drift._2 > fit._2 * 100,
      s"planted shift must dominate the gauge: $fit vs $drift")
    assert(drift._4 == 1.0,
      s"beyond-tau mass must flag the drifted batch: $fit vs $drift")
    // streamed rows == the batch gauge on the same frames, with the
    // books READ BACK from the sidecar (the monitor's own source)
    val sideBooks =
      Similarity.servedModel(spark, s"$base/idx", Similarity.PqLayout)
    assert(reports.toSet ==
      (rep(Similarity.pqFitReport(emb0, sideBooks, tau)) ++
        rep(Similarity.pqFitReport(drifted, sideBooks, tau))).toSet,
      "stream must equal batch")
    // a dir with no codebook sidecar fails fast
    val ex = intercept[Exception] {
      val bad = IngestStream.pqFitMonitor(
        spark.readStream.schema(emb0.schema).parquet(src),
        s"$base/report", s"$base/report2", tau)
      try bad.processAllAvailable() finally bad.stop()
    }
    assert(ex.getMessage.contains("sidecar") ||
      Option(ex.getCause).exists(_.getMessage.contains("sidecar")),
      s"missing-sidecar monitor must fail fast: ${ex.getMessage}")
  }

  test("cmsCompact: compacted layer equals the merged layer " +
       "cell-for-cell; rerun and replay-after-compaction stay " +
       "idempotent; geometry sidecar guards the layer") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val d1 = Seq((1L, "a a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val d2 = Seq((3L, "a e e"), (4L, "c")).toDF("doc_id", "text")
    val d3 = Seq((5L, "f a"), (6L, "b b")).toDF("doc_id", "text")
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(d1, dir, batchId = 0L)
    IngestStream.cmsBatch(d2, dir, batchId = 1L)
    IngestStream.cmsBatch(d3, dir, batchId = 2L)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("row", "bucket", "cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = cells(IngestStream.cmsLayerRead(spark, dir))
    def partIds() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch="))
      .map(_.drop("ingest_batch=".length).toLong).toSet
    // geometry sidecar published once; mismatched writer refused
    assert(IngestStream.cmsLayerGeometry(spark, dir)
      .contains((4, 16, 7L)))
    intercept[IllegalArgumentException] {
      IngestStream.cmsBatch(d1, dir, width = 8, batchId = 9L)
    }
    // fold the committed prefix (batches 0,1) under watermark 1
    IngestStream.cmsCompact(spark, dir, watermark = 1L)
    assert(partIds() == Set(-2L, 2L), s"got ${partIds()}")
    assert(cells(IngestStream.cmsLayerRead(spark, dir)) == want,
      "compaction must preserve every cell")
    // rerun with the same watermark: idempotent no-op
    IngestStream.cmsCompact(spark, dir, watermark = 1L)
    assert(partIds() == Set(-2L, 2L))
    assert(cells(IngestStream.cmsLayerRead(spark, dir)) == want)
    // at-least-once replay of the UNCOMPACTED tail batch: overwrite
    // idempotency is untouched by compaction
    IngestStream.cmsBatch(d3, dir, batchId = 2L)
    spark.catalog.refreshByPath(dir)
    assert(cells(IngestStream.cmsLayerRead(spark, dir)) == want,
      "tail replay after compaction must replace, never double-count")
    // a later compaction folds the previous compact partition too
    IngestStream.cmsCompact(spark, dir, watermark = 2L)
    assert(partIds() == Set(-3L), s"got ${partIds()}")
    assert(cells(IngestStream.cmsLayerRead(spark, dir)) == want)
    // compacted layer still serves lookups with sidecar geometry
    val (d, w, s) = IngestStream.cmsLayerGeometry(spark, dir).get
    val est = graft.llm.HeavyHitters.cmsLookup(
        IngestStream.cmsLayerRead(spark, dir), Seq("a").toDF("token"),
        depth = d, width = w, seed = s)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") >= 4L, s"a appears 4x across batches: $est")
  }

  test("ingestLayerCompact: sig/corpus layers keep their exact rows " +
       "in fewer files; dedup against the compacted layer and tail " +
       "replay both still work") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/ingest_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val corpusDir = s"$base/corpus"
    val sigDir = s"$base/sigs"
    val textA = "the quick brown fox jumps over the lazy dog again today"
    val textB = "completely different content about distributed query engines"
    val textC = "yet another unrelated document describing parquet file layouts"
    IngestStream.ingestBatch(Seq((1L, textA)).toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 0L)
    IngestStream.ingestBatch(Seq((2L, textB)).toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 1L)
    val b2 = Seq((3L, textC)).toDF("doc_id", "text")
    IngestStream.ingestBatch(b2, corpusDir, sigDir, threshold = 0.5,
      batchId = 2L)
    def snap(dir: String, cols: Seq[String]) = spark.read.parquet(dir)
      .select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val corpusBefore = snap(corpusDir, Seq("doc_id", "text"))
    val sigsBefore = snap(sigDir, Seq("id"))
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch=")).toSet
    // fold the committed prefix (batches 0,1) on BOTH layers
    IngestStream.ingestLayerCompact(spark, sigDir, watermark = 1L)
    IngestStream.ingestLayerCompact(spark, corpusDir, watermark = 1L)
    assert(parts(sigDir) == Set("ingest_batch=-2", "ingest_batch=2"))
    assert(parts(corpusDir) == Set("ingest_batch=-2", "ingest_batch=2"))
    assert(snap(corpusDir, Seq("doc_id", "text")) == corpusBefore,
      "compaction must preserve the corpus rows exactly")
    assert(snap(sigDir, Seq("id")) == sigsBefore)
    // tail replay (the only replayable batch) stays idempotent
    IngestStream.ingestBatch(b2, corpusDir, sigDir, threshold = 0.5,
      batchId = 2L)
    assert(snap(corpusDir, Seq("doc_id", "text")) == corpusBefore)
    // the next batch still dedups against the COMPACTED signatures:
    // a near-dup of doc 1 (batch 0, now inside partition -2) drops
    IngestStream.ingestBatch(
      Seq((9L, textA), (10L, "genuinely fresh words about row groups"))
        .toDF("doc_id", "text"),
      corpusDir, sigDir, threshold = 0.5, batchId = 3L)
    val ids = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 10L), s"got $ids")
  }

  test("cmsLookup geometry guard: probing with the wrong depth " +
       "fails fast instead of silently underestimating") {
    import spark.implicits._
    val toks = Seq("a", "b", "c", "a").toDF("token")
    val sk = graft.llm.HeavyHitters.cmsSketch(toks, depth = 4)
    intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.cmsLookup(sk, Seq("a").toDF("token"),
        depth = 2).collect()
    }
    intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.cmsLookup(sk, Seq("a").toDF("token"),
        depth = 6).collect()
    }
  }

  test("windowedTrending: bursts flag in THEIR event-time window " +
       "only, steady tokens never; stream equals batch; state is " +
       "per-open-window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.IngestStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // history layer: 'a' seen ~3 times, 'zz' unseen
    val base = graft.Scratch.root + "/cms_wtrend"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b c"), (2L, "a b c d")).toDF("doc_id", "text"),
      dir, batchId = 0L)
    val layer = IngestStream.cmsLayerRead(spark, dir)
    // hour 0: zz bursts (8x) while a stays steady (2x, ratio < 2);
    // hour 1: zz quiet, yy bursts (4x)
    val rows = (0 until 8).map(i => (i * 60L, "zz")) ++
      Seq((480L, "a"), (540L, "a")) ++
      (0 until 4).map(i => (3600L + i * 60L, "yy"))
    val input = MemoryStream[(Long, String)]
    val df = input.toDS().toDF("secs", "token")
      .withColumn("ts", col("secs").cast("timestamp"))
    val stream = graft.llm.HeavyHitters.windowedTrending(
      df, "ts", "token", "1 hour", layer, watermark = "30 minutes")
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wtrend").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      // sentinel far ahead so the watermark closes both windows
      input.addData(Seq((3600L * 10, "sentinel")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wtrend").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set((0L, "zz"), (3600L, "yy")),
      s"exactly the two bursts, each in ITS window: ${got.keySet}")
    assert(got((0L, "zz"))._1 == 8L && got((3600L, "yy"))._1 == 4L)
    // 'a' (history >= 3, batch 2) must not trend anywhere
    assert(!got.keySet.exists(_._2 == "a"), s"$got")
    // batch mode: the same frame through the same operator
    val batchGot = graft.llm.HeavyHitters.windowedTrending(
        rows.toDF("secs", "token")
          .withColumn("ts", col("secs").cast("timestamp")),
        "ts", "token", "1 hour", layer)
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(batchGot == got, s"stream/batch divergence: $batchGot vs $got")
  }

  test("windowedTrendingWide: same event-time semantics as the " +
       "literal path on a small geometry; handles the wide geometry " +
       "the literal device refuses; replay replaces") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_wtrend_wide"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b c"), (2L, "a b c d")).toDF("doc_id", "text"),
      dir, batchId = 0L)
    val layer = IngestStream.cmsLayerRead(spark, dir)
    val events = ((0 until 8).map(i => (i * 60L, "zz")) ++
      Seq((480L, "a"), (540L, "a")) ++
      (0 until 4).map(i => (3600L + i * 60L, "yy")))
      .toDF("secs", "token")
      .withColumn("ts", col("secs").cast("timestamp"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start", "token", "batch_cnt", "hist_est")
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // the wide path: trendingFromCounts over the windowed aggregate,
    // the sketch broadcast-joined instead of inlined
    def wide(sketch: org.apache.spark.sql.DataFrame, width: Int) =
      keyed(graft.llm.HeavyHitters.trendingFromCounts(
        events.groupBy(window(col("ts"), "1 hour"), col("token"))
          .agg(count(lit(1)).as("batch_cnt"))
          .select(col("window.start").as("window_start"), col("token"),
            col("batch_cnt")),
        sketch, width = width))
    // small geometry: wide path == literal face, row for row
    val small = wide(layer, width = 16)
    val literal = keyed(graft.llm.HeavyHitters.windowedTrending(
      events, "ts", "token", "1 hour", layer))
    assert(small == literal && small.keySet ==
      Set((0L, "zz"), (3600L, "yy")),
      s"wide/literal divergence: $small vs $literal")
    // wide geometry (d*w >= 1e5): the literal device refuses and
    // names the wide path…
    val wideSketch = graft.llm.HeavyHitters.cmsSketch(
      Seq("a", "a", "a").toDF("token"), width = 30000)
    val ex = intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.windowedTrending(events, "ts", "token",
        "1 hour", wideSketch, width = 30000)
    }
    assert(ex.getMessage.contains("trendingFromCounts"), ex.getMessage)
    // …which serves it: zz and yy burst (no history), the steady a
    // (history 3, in-window 2) stays quiet
    val wideGeo = wide(wideSketch, width = 30000)
    assert(wideGeo.keySet == Set((0L, "zz"), (3600L, "yy")),
      s"wide-geometry run: $wideGeo")
    assert(wideGeo((0L, "zz")) == ((8L, 0L)), s"$wideGeo")
  }

  test("an earlier build's compaction crash leftover (a compact " +
       "holding _COMPACT_SOURCES beside a partition it covers) " +
       "refuses compaction, naming both paths; once cleared, the " +
       "marker is inert") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_legacy_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b c"), (2L, "b c d")).toDF("doc_id", "text"),
      dir, batchId = 0L)
    IngestStream.cmsBatch(
      Seq((3L, "a e e"), (4L, "c")).toDF("doc_id", "text"),
      dir, batchId = 1L)
    IngestStream.cmsBatch(
      Seq((5L, "f a"), (6L, "b b")).toDF("doc_id", "text"),
      dir, batchId = 2L)
    def cells() = IngestStream.cmsLayerRead(spark, dir)
      .select("row", "bucket", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def partIds() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch="))
      .map(_.drop("ingest_batch=".length).toLong).toSet
    val want = cells()
    // the on-disk state an earlier build's rename-then-delete
    // compaction left when it crashed between its rename and its
    // source deletes: the fold, with its sources marker, beside the
    // sources it consumed
    val side = new java.io.File(s"$base/side")
    Seq(0L, 1L).foreach { b =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$dir/ingest_batch=$b"),
        new java.io.File(side, s"ingest_batch=$b"))
    }
    IngestStream.cmsCompact(spark, dir, watermark = 1L)
    Seq(0L, 1L).foreach { b =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(side, s"ingest_batch=$b"),
        new java.io.File(s"$dir/ingest_batch=$b"))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ingest_batch=-2/_COMPACT_SOURCES"),
      "not parsed\n")
    spark.catalog.refreshByPath(dir)
    assert(partIds() == Set(-2L, 0L, 1L, 2L), s"crash state: ${partIds()}")
    val e = intercept[IllegalStateException] {
      IngestStream.cmsCompact(spark, dir, watermark = 2L)
    }
    // the compact, and one of the sources it covers
    def namesBoth(msg: String) = msg.contains("ingest_batch=-2 ") &&
      Seq(0, 1).exists(b => msg.contains(s"ingest_batch=$b,"))
    assert(namesBoth(e.getMessage) &&
      e.getMessage.contains("earlier build"), e.getMessage)
    assert(partIds() == Set(-2L, 0L, 1L, 2L), "the refusal deletes nothing")
    val doctor = graft.llm.Takedown.layerDoctor(spark, dir).collect()
      .filter(_.getString(0) == "legacy-compact")
    assert(doctor.length == 1 && namesBoth(doctor.head.getString(2)),
      doctor.toSeq)
    // with the covered sources gone, a compact holding the marker is
    // an ordinary compact: folded like any other, marker unread
    Seq(0L, 1L).foreach(b => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$dir/ingest_batch=$b")))
    spark.catalog.refreshByPath(dir)
    assert(cells() == want)
    assert(graft.llm.Takedown.layerDoctor(spark, dir).collect()
      .forall(_.getString(0) != "legacy-compact"))
    IngestStream.cmsCompact(spark, dir, watermark = 2L)
    assert(partIds() == Set(-3L), s"got ${partIds()}")
    assert(cells() == want, "the fold over the legacy compact is exact")
  }

  test("compaction keeps mass it did not fold: batches landing under " +
       "already-covered ids (ahead watermark / checkpoint-reset id " +
       "reuse) survive recovery and fold later") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_latemass"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b")).toDF("doc_id", "text"), dir, batchId = 0L)
    def cells() = IngestStream.cmsLayerRead(spark, dir)
      .select("row", "bucket", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def partIds() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch="))
      .map(_.drop("ingest_batch=".length).toLong).toSet
    // scheduling bug: compact with a watermark AHEAD of the newest
    // landed batch — coverage claims batches 1,2 that don't exist yet
    IngestStream.cmsCompact(spark, dir, watermark = 2L)
    assert(partIds() == Set(-3L))
    // a late batch lands inside the claimed coverage, and a NEW
    // batch reuses the already-folded id 0 (checkpoint reset)
    IngestStream.cmsBatch(
      Seq((2L, "c")).toDF("doc_id", "text"), dir, batchId = 1L)
    IngestStream.cmsBatch(
      Seq((3L, "d d")).toDF("doc_id", "text"), dir, batchId = 0L)
    spark.catalog.refreshByPath(dir)
    val want = cells()
    // rerun at the SAME watermark (target exists): the late batches
    // fold into the target with it, exactly once
    IngestStream.cmsCompact(spark, dir, watermark = 2L)
    assert(partIds() == Set(-3L), s"got ${partIds()}")
    assert(cells() == want, "compaction must not delete unfolded mass")
    // a LATER watermark folds that compact in turn
    IngestStream.cmsCompact(spark, dir, watermark = 5L)
    assert(partIds() == Set(-6L), s"got ${partIds()}")
    assert(cells() == want,
      "the late mass folds into the next compact exactly once")
  }

  test("compaction crash BEFORE the rename: an unrenamed temp dir is " +
       "pre-commit garbage — the refold converges, nothing lost") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_precommit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text"), dir,
      batchId = 0L)
    IngestStream.cmsBatch(
      Seq((3L, "b d")).toDF("doc_id", "text"), dir, batchId = 1L)
    def cells() = IngestStream.cmsLayerRead(spark, dir)
      .select("row", "bucket", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = cells()
    // the crash state an earlier build's compaction left: a fold's
    // temp output that was never renamed — no live partition was
    // touched, so it is garbage whatever it contains
    val tmp = new java.io.File(s"$dir/_compact_tmp_1")
    tmp.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_compact_tmp_1/part-junk"),
      "not parquet")
    IngestStream.cmsCompact(spark, dir, watermark = 1L)
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("ingest_batch=")).toSet
    assert(parts == Set("ingest_batch=-2"), s"got $parts")
    assert(!tmp.exists(), "pre-commit garbage must be cleared")
    assert(cells() == want, "the refold must preserve every cell")
  }

  test("windowedTrending guards: oversized / unsummed sketch frames " +
       "fail fast; the layer-path overloads derive geometry from the " +
       "sidecar and match the explicit path") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val base = graft.Scratch.root + "/cms_wtrend_guard"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val dir = s"$base/sketch"
    IngestStream.cmsBatch(
      Seq((1L, "a a b c"), (2L, "a b c d")).toDF("doc_id", "text"),
      dir, batchId = 0L)
    IngestStream.cmsBatch(
      Seq((3L, "a a a"), (4L, "b")).toDF("doc_id", "text"),
      dir, batchId = 1L)
    val events = Seq((0L, "zz"), (60L, "zz"), (120L, "zz"))
      .toDF("secs", "token")
      .withColumn("ts", col("secs").cast("timestamp"))
    // raw multi-batch layer read (duplicate (row,bucket) cells across
    // batch partitions) must be refused, not silently last-write-wins
    val raw = spark.read.parquet(dir)
    val exDup = intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.windowedTrending(events, "ts", "token",
        "1 hour", raw)
    }
    assert(exDup.getMessage.contains("duplicate") ||
      exDup.getMessage.contains("> depth*width"), exDup.getMessage)
    // a frame larger than depth*width cells is refused BEFORE collect
    val big = spark.range(200).select(
      (col("id") % 4).cast("int").as("row"), col("id").as("bucket"),
      lit(1L).as("cnt"))
    val exBig = intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.windowedTrending(events, "ts", "token",
        "1 hour", big)
    }
    assert(exBig.getMessage.contains("> depth*width"), exBig.getMessage)
    // layer-path overloads: geometry from the sidecar, cells summed —
    // identical output to the explicit (frame, depth, width, seed) path
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
    val viaLayer = norm(graft.llm.HeavyHitters.windowedTrendingLayer(
      spark, dir, events, "ts", "token", "1 hour"))
    val explicit = norm(graft.llm.HeavyHitters.windowedTrending(
      events, "ts", "token", "1 hour",
      IngestStream.cmsLayerRead(spark, dir)))
    assert(viaLayer.nonEmpty && viaLayer == explicit,
      s"layer path diverged: $viaLayer vs $explicit")
    val lkLayer = graft.llm.HeavyHitters.cmsLookupLayer(spark, dir,
        Seq("a").toDF("token")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lkLayer("a") >= 6L, s"a appears 6x across batches: $lkLayer")
    // a dir with no sidecar is not a layer
    intercept[IllegalArgumentException] {
      graft.llm.HeavyHitters.cmsLookupLayer(spark, s"$base/nowhere",
        Seq("a").toDF("token"))
    }
  }


  // ---- streaming-wrapper pins: a foreachBatch face driven
  // end-to-end must equal its batch kernel on the same data ----

  def stageDocs(tag: String, rows: Seq[(Long, String)])
      : (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val base = graft.Scratch.root + s"/wrap_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(s"$base/src").mkdirs()
    rows.toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$base/src")
    (base, spark.read.parquet(s"$base/src"))
  }

  test("nearDupIngest wrapper: stream == batch ingest (same " +
       "survivors, same signature layer)") {
    import graft.streaming.IngestStream
    val textA = (0 until 40).map(i => s"a$i").mkString(" ")
    val textB = (0 until 40).map(i => s"b$i").mkString(" ")
    val rows = Seq((1L, textA), (2L, textA.replace("a5", "zz")),
      (3L, textB), (4L, "two words"))
    val (base, docsStatic) = stageDocs("neardup", rows)
    val stream = spark.readStream.schema(docsStatic.schema)
      .parquet(s"$base/src")
    val q = IngestStream.nearDupIngest(stream, s"$base/corpus",
      s"$base/sigs", threshold = 0.5)
    assert(q.awaitTermination(60000), "stream must drain in 60s")
    IngestStream.ingestBatch(docsStatic, s"$base/bcorpus",
      s"$base/bsigs", threshold = 0.5, batchId = 0L)
    def ids(dir: String) = spark.read.parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(s"$base/corpus") == ids(s"$base/bcorpus"))
    assert(ids(s"$base/corpus") == Set(1L, 3L, 4L),
      "near-dup 2 drops, short 4 survives")
  }

  test("blobNearDupIngest wrapper: stream == batch blob ingest " +
       "through the byte-SimHash scheme") {
    import graft.streaming.IngestStream
    import spark.implicits._
    val a = Array.tabulate[Byte](400)(i => (i % 97).toByte)
    val c = Array.tabulate[Byte](400)(i => ((i * 31) % 83).toByte)
    val tampered = { val t = a.clone(); t(5) = 99; t }
    val base = graft.Scratch.root + "/wrap_blob"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    new java.io.File(s"$base/src").mkdirs()
    val blobs = Seq((1L, a), (2L, tampered), (3L, c))
      .toDF("media_id", "content")
    blobs.coalesce(1).write.mode("overwrite").parquet(s"$base/src")
    val blobsStatic = spark.read.parquet(s"$base/src")
    val stream = spark.readStream.schema(blobsStatic.schema)
      .parquet(s"$base/src")
    val q = IngestStream.mediaNearDupIngest(stream, s"$base/corpus",
      s"$base/sigs", IngestStream.SigScheme.BlobSimHash())
    assert(q.awaitTermination(60000), "stream must drain in 60s")
    IngestStream.ingestBatchWith(blobsStatic, s"$base/bcorpus",
      s"$base/bsigs", IngestStream.SigScheme.BlobSimHash(3, "content"),
      "media_id", batchId = 0L)
    def ids(dir: String) = spark.read.parquet(dir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids(s"$base/corpus") == ids(s"$base/bcorpus"))
    assert(ids(s"$base/corpus") == Set(1L, 3L),
      "tampered near-identical blob must drop")
  }

  test("safetyBatch / fertilityBatch kernels: direct per-batch calls " +
       "publish the same rollups their monitors stream") {
    import graft.streaming.IngestStream
    val base = graft.Scratch.root + "/wrap_kernels"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val docsStatic = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    IngestStream.fertilityBatch(docsStatic, docsStatic,
      s"$base/fert", merges = 4, batchId = 0L)
    val fert = spark.read.parquet(s"$base/fert/ingest_batch=0").head()
    assert(fert.getAs[Long]("n_docs") == docsStatic.count())
    assert(fert.getAs[Double]("fertility") >= 1.0,
      "wordpiece can only split words, never merge them")
  }

}
