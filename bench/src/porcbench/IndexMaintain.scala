package porcbench

import graft.llm.{Similarity, Takedown, TextAnalysis}
import graft.streaming.IngestStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.util.Random

/** `index_maintain`: top-k serves against a standing BM25 postings
  * layer and a standing IVF layer, interleaved with maintenance cycles
  * (append a batch, take down an id set, compact) on the same layers.
  * Documents and vectors share one id space: id `i` is a document of
  * the lexical layer and a vector of the IVF layer. */
object IndexMaintain {
  val nBase = 1200
  val appendBatch = 40
  val takedownIds = 15
  /** The serves of a round, by kind: the first reads layers just
    * written (by the previous cycle or the restore), the second reads
    * them again. Each kind has its own median. */
  val serveKinds = Seq("serve.after_write", "serve.again")
  val queriesPerServe = 5
  val k = 10

  def apply(r: Run): Unit = {
    val spark = r.spark
    r.prop("base_items", nBase)
    r.prop("append_batch_rows", appendBatch)
    r.prop("takedown_ids_per_cycle", takedownIds)
    r.prop("serves_per_cycle", serveKinds.size)
    r.prop("queries_per_serve", queriesPerServe)
    r.prop("k", k)

    val docsOf = scala.collection.mutable.HashMap[Long, Row]()
    val pristine = s"${r.work}/pristine"
    var dir = ""
    val genMs = Setup.repeat(r) { rep =>
      dir = s"${r.work}/inputs/rep$rep"
      val rd = new Random(r.seed * 101 + 7)
      val docs = (0L until nBase.toLong).map(id =>
        Gen.docRow(rd, id, Gen.text(rd, 12 + rd.nextInt(60))))
      Gen.write(spark, docs, Gen.docSchema, s"$dir/documents.parquet")
      Gen.write(spark, Gen.embeddings(r.seed, 0L until nBase.toLong),
        Gen.embSchema, s"$dir/embeddings.parquet")
      docsOf.clear(); docs.foreach(d => docsOf(d.getLong(0)) = d)
    }
    // the standing layers: BM25 postings in two doc-disjoint batches,
    // IVF with corpus-derived cell count
    val buildMs = Setup.time {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.bm25PostingsBatch(d.filter(col("doc_id") % 2 === 0),
        s"$pristine/bm25", batchId = 0L)
      TextAnalysis.bm25PostingsBatch(d.filter(col("doc_id") % 2 =!= 0),
        s"$pristine/bm25", batchId = 1L)
      r.prop("ivf_cells", Similarity.ivfBuildIndexAuto(
        spark.read.parquet(s"$dir/embeddings.parquet"), s"$pristine/ivf"))
    }
    val bm25 = s"${r.work}/layers/bm25"
    val ivf = s"${r.work}/layers/ivf"
    def restore(): Unit = {
      Fs.copyTree(s"$pristine/bm25", bm25)
      Fs.copyTree(s"$pristine/ivf", ivf)
      spark.catalog.refreshByPath(bm25)
      spark.catalog.refreshByPath(ivf)
    }

    // live state the checks compare against
    var live = Set.empty[Long]
    var nextBatch = 2L
    var nextId = 1000000L
    val appended = scala.collection.mutable.HashMap[Long, Row]()
    val rnd = new Random(r.seed * 977 + 1)
    def reset(): Unit = {
      restore()
      live = (0L until nBase.toLong).toSet
      nextBatch = 2L; appended.clear()
    }

    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("text", StringType)))
    val vSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("query_vec", ArrayType(DoubleType, false))))
    val idSchema = StructType(Seq(StructField("id", LongType)))
    def local(rows: Seq[Row], s: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)

    var bytes = 0L
    var files = 0L
    var rowsTouched = 0L
    var partsRewritten = 0L
    var takedownBytes = 0L
    var takedownRows = 0L

    var served = 0
    def serve(kind: String): Unit = r.attempt(s"serve $served") {
      val i = served
      served += 1
      val texts = local((0 until queriesPerServe).map(q =>
        Row(q.toLong, Gen.text(rnd, 6))), qSchema)
      val vecs = local((0 until queriesPerServe).map(q =>
        Row(q.toLong, Gen.queryVector(rnd))), vSchema)
      val (b, v) = r.timed(kind) {
        r.tr.span("op") {
          val b = r.tr.span("llm.serve_bm25") {
            TextAnalysis.bm25TopKFromPostings(spark, bm25, texts, k).collect()
          }
          val v = r.tr.span("llm.serve_ivf") {
            Similarity.ivfTopKIndexedAuto(spark, ivf, vecs, k).collect()
          }
          (b, v)
        }
      }
      val got = b.map(_.getAs[Long]("doc_id")) ++ v.map(_.getAs[Long]("vec_id"))
      r.check(got.forall(live), s"serve $i returned removed or unknown ids " +
        got.filterNot(live).take(5).mkString(",")) ++
        r.check(b.length == queriesPerServe * k && v.length == queriesPerServe * k,
          s"serve $i: ${b.length}/${v.length} rows, expected " +
            s"${queriesPerServe * k} each")
    }

    def cycle(c: Int): Unit = r.attempt(s"maintenance cycle $c") {
      val batch = nextBatch
      val newIds = (0 until appendBatch).map(_ => { nextId += 1; nextId })
      val rd = new Random(r.seed * 31 + batch)
      val newDocs = newIds.map(id => Gen.docRow(rd, id, Gen.text(rd, 12 + rd.nextInt(60))))
      val newVecs = Gen.embeddings(r.seed + batch, newIds)
      val gone = rnd.shuffle((live ++ newIds).toVector.sorted).take(takedownIds)
      newDocs.foreach(d => appended(d.getLong(0)) = d)
      val docDf = Gen.df(spark, newDocs, Gen.docSchema)
      val vecDf = Gen.df(spark, newVecs, Gen.embSchema)
      val ids = local(gone.map(Row(_)), idSchema)
      val before = Fs.snapshot(Seq(bm25, ivf))
      var tdBefore = before
      var tdAfter = before
      val (bmAudit, ivfAudit) = r.timed("cycle") {
        r.tr.span("op") {
          r.tr.span("llm.append") {
            TextAnalysis.bm25PostingsBatch(docDf, bm25, batch)
            Similarity.ivfAppendBatch(spark, ivf, vecDf, batch)
          }
          if (r.tr.on) tdBefore = Fs.snapshot(Seq(bm25, ivf))
          val audits = r.tr.span("llm.takedown") {
            (Takedown.bm25Takedown(spark, bm25, ids.select(col("id").as("doc_id"))),
              Takedown.ivfTakedown(spark, ivf, ids.select(col("id").as("vec_id"))))
          }
          if (r.tr.on) tdAfter = Fs.snapshot(Seq(bm25, ivf))
          r.tr.span("streaming.compact") {
            Seq("postings", "stats", "termdf").foreach(sub =>
              IngestStream.ingestLayerCompact(spark, s"$bm25/$sub", batch))
            Similarity.ivfCompactDelta(spark, ivf)
          }
          audits
        }
      }
      nextBatch += 1
      live = live ++ newIds -- gone
      val (f, b) = Fs.added(before, Fs.snapshot(Seq(bm25, ivf)))
      files += f; bytes += b
      rowsTouched += appendBatch + gone.size
      partsRewritten += bmAudit._2 + ivfAudit._2
      if (r.tr.on) {
        takedownBytes += Fs.added(tdBefore, tdAfter)._2
        takedownRows += gone.size
      }
      val nDocs = spark.read.parquet(s"$bm25/stats")
        .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
      val nVecs = spark.read.parquet(ivf).count()
      r.check(nDocs == live.size, s"cycle $c: bm25 layer holds $nDocs docs, expected ${live.size}") ++
        r.check(nVecs == live.size, s"cycle $c: ivf layer holds $nVecs vectors, expected ${live.size}") ++
        r.check(ivfAudit._1 == gone.size,
          s"cycle $c: ivf takedown removed ${ivfAudit._1} of ${gone.size} ids")
    }

    // fixed probe served from the maintained layer and from a fresh
    // single-batch rebuild over the live corpus must agree
    def probe(): Seq[String] = {
      val probeQ = local((0 until 8).map(q =>
        Row(q.toLong, Gen.vocab.slice(q * 3, q * 3 + 4).mkString(" "))), qSchema)
      val corpus = live.toSeq.sorted.map(id =>
        if (id < nBase) docsOf(id) else appended(id))
      val fresh = s"${r.work}/fresh"
      Fs.deleteTree(fresh)
      TextAnalysis.bm25PostingsBatch(Gen.df(spark, corpus, Gen.docSchema),
        fresh, batchId = 0L)
      val a = TextAnalysis.bm25TopKFromPostings(spark, bm25, probeQ, k).collect()
      val b = TextAnalysis.bm25TopKFromPostings(spark, fresh, probeQ, k).collect()
      Fs.deleteTree(fresh)
      r.check(a.nonEmpty && Stats.hashRows(a.toSeq) == Stats.hashRows(b.toSeq),
        s"bm25 probe over the maintained layer differs from a fresh rebuild " +
          s"(${a.length} vs ${b.length} rows)")
    }
    var c = 0
    def round(): Unit = { serveKinds.foreach(serve); cycle(c); c += 1 }
    // restore, then one round, which runs cold (the next is still
    // 10-20 % slow, which the median over the window absorbs). The window
    // starts on layers a cycle has just written, like each of its rounds.
    val warmMs = Setup.time { reset(); round() }
    r.endWarmup()
    bytes = 0; files = 0; rowsTouched = 0; partsRewritten = 0
    takedownBytes = 0; takedownRows = 0
    Setup.report(r, genMs, buildMs + warmMs)

    r.startClock()
    var j = 0
    while (r.nextRound(j, min = 5)) { round(); j += 1 }
    r.attempt("bm25 probe vs fresh rebuild")(probe())

    val serves = serveKinds.flatMap(r.lat(_))
    val cycles = r.lat("cycle")
    val allMs = serves ++ cycles
    Summary.endToEnd(r, serveKinds.map(r.lat(_)), Seq(cycles), allMs.size, allMs.sum,
      bytes.toDouble / rowsTouched.max(1))
    r.named("serve_p50_ms") = f"${Stats.median(serves)}%.2f ms"
    val (tp, tv) = Stats.tail(serves)
    r.named("serve_tail_ms") = f"$tv%.2f ms (p$tp, n=${serves.size})"
    r.named("maintain_cycle_s") = f"${Stats.median(cycles) / 1000}%.4f s"
    val cycAll = (cycles ++ r.lat("cycle", traced = true)).size.max(1).toDouble
    r.prop("maintenance_cycles", cycAll.toInt)
    r.prop("cycle_ms", cycles.map(_.round).mkString(","))
    if (r.trace) {
      Summary.traced(r, serveKinds)
      val L = r.layer
      L("llm.serve_bm25_ms") = (Layers.medianMs(r, "llm.serve_bm25"), "ms")
      L("llm.serve_ivf_ms") = (Layers.medianMs(r, "llm.serve_ivf"), "ms")
      val srv = r.tr.named("llm.serve_bm25") ++ r.tr.named("llm.serve_ivf")
      val nServe = r.tr.named("llm.serve_bm25").size.max(1).toDouble
      val srvJobs = srv.flatMap(r.tr.jobsIn).distinctBy(_.id)
      L("llm.serve_jobs") = (srvJobs.size / nServe, "count")
      L("llm.serve_plan_ms") = (srv.map(r.tr.planMsIn).sum / nServe, "ms")
      L("llm.serve_rows_scanned_per_result") = (srvJobs.map(_.records).sum.toDouble /
        (nServe * queriesPerServe * k * 2), "ratio")
      L("llm.append_ms") = (Layers.medianMs(r, "llm.append"), "ms")
      L("llm.takedown_ms") = (Layers.medianMs(r, "llm.takedown"), "ms")
      L("streaming.compact_ms") = (Layers.medianMs(r, "streaming.compact"), "ms")
      val cyc = r.lat("cycle", traced = true).size.max(1).toDouble
      val mSpans = Seq("llm.append", "llm.takedown", "streaming.compact")
        .flatMap(r.tr.named)
      L("llm.maintain_jobs") =
        (mSpans.flatMap(r.tr.jobsIn).distinctBy(_.id).size / cyc, "count")
      L("llm.takedown_partitions_rewritten") =
        (partsRewritten / cycAll, "count")
      L("llm.takedown_bytes_per_row_removed") =
        (takedownBytes.toDouble / takedownRows.max(1), "B/row")
      L("access.files_written") = (files / cycAll, "count")
      L("access.bytes_written") = (bytes / cycAll, "B")
    }
    r.layer("access.layer_files") =
      ((Fs.dataFiles(bm25) + Fs.dataFiles(ivf)).toDouble, "count")
    Summary.hygiene(r, Seq(s"${r.work}/layers"))
  }
}
