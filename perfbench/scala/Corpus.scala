package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Pipeline

/** The fixed corpus both corpus workloads start from, written the way
  * the library reads a corpus: one `<table>.parquet` file per table. */
object Corpus {
  val Documents = 400
  val Embeddings = 200

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docRows(docs: Seq[Gen.Doc]): Seq[Row] =
    docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))

  def docFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docRows(docs): _*), docSchema)

  /** Write `df` as the single parquet file `path`. */
  def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(path))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  def write(spark: SparkSession, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    writeFile(docFrame(spark, Gen.documents(Documents)), s"$dir/documents.parquet")
    val emb = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val rows = Gen.embeddings(Embeddings).map { case (id, v, l) => Row(id, v.toSeq, l) }
    writeFile(spark.createDataFrame(java.util.Arrays.asList(rows: _*), emb),
      s"$dir/embeddings.parquet")
  }

  /** Order-insensitive digest of a result: SHA-256 over its sorted
    * row renderings, first 16 hex digits. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** corpus_batch: the corpus analytics calls plus one ingest stream, in
  * a seeded order per pass, each constructed, then executed to
  * completion; passes repeat until the run's seconds are spent (at
  * least one). Each process runs its passes cold, as every submitted
  * analytics job does.
  *
  * Set-up builds the ingest side: `prepareCorpus` writes the artifact
  * and `saveIngestIndexes` its persisted indexes. In each pass,
  * `streamIngestIndexed` consumes seeded micro-batches against them,
  * one staged file per trigger; each batch mixes novel documents, exact
  * copies of corpus texts and re-delivered corpus ids. */
object CorpusBatch {
  import graft.dedup.Dedup
  import graft.sim.Similarity
  import graft.streaming.Streams
  import graft.text.TextAnalysis

  val calls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ops.Pipeline.buildWaterfall" -> ((s, d) => Pipeline.buildWaterfall(s, d)),
    "ops.Pipeline.docLineage" -> ((s, d) => Pipeline.docLineage(s, d)),
    "dedup.Dedup.clusterMinhash" -> ((s, d) => Dedup.clusterMinhash(s, d)),
    "dedup.Dedup.minhashLsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "sim.Similarity.knnBruteForce" -> ((s, d) => Similarity.knnBruteForce(s, d)),
    "text.TextAnalysis.tfidfTopK" -> ((s, d) => TextAnalysis.tfidfTopK(s, d)),
    "streaming.Streams.streamLshDedupIndexed" -> ((s, d) => Streams.streamLshDedupIndexed(s, d)),
    "streaming.Streams.streamSemanticDedupIndexed" -> ((s, d) => Streams.streamSemanticDedupIndexed(s, d)))
  val Ingest = "ops.Pipeline.streamIngestIndexed"
  /** Every operation of a pass: the checked calls, then the ingest. */
  val ops: Seq[String] = calls.map(_._1) :+ Ingest
  val BatchesPerPass = 1

  /** Pinned (rows, digest) per call, from the benchmark's expected file. */
  def expected(ctx: Ctx): Map[String, (Long, String)] = {
    val txt = new String(Files.readAllBytes(ctx.expected), "UTF-8")
    val re = "\"([A-Za-z.]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"digest\"\\s*:\\s*\"([0-9a-f]+)\"".r
    re.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.path("corpus")
    val art = ctx.path("artifact")
    val ix = ctx.path("index")
    Corpus.write(spark, dir)

    // -- set-up: the ingest side's artifact and persisted indexes; the
    // two builds also warm the shared engine paths (scheduler, codegen,
    // parquet I/O) before the timed pass
    def timedOp(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      ctx.op(name, 120)(tr.span(name, "operation", newOp = true)(_ => body))
      (System.nanoTime() - t0) / 1e9
    }
    val prepS = timedOp("ops.Pipeline.prepareCorpus")(Pipeline.prepareCorpus(spark, dir, art).collect(): Unit)
    val idxS = timedOp("ops.Pipeline.saveIngestIndexes")(Pipeline.saveIngestIndexes(spark, art, ix))
    val corpus = spark.read.parquet(art).select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val schema = spark.read.parquet(art).drop("split").schema
    ctx.setupDone()

    val want = expected(ctx)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    // one checked, constructed-and-executed call; Some(wall ns) if right
    def call(name: String, f: (SparkSession, String) => DataFrame): Option[Long] = {
      val t0 = System.nanoTime()
      val rows = ctx.op(name, 60, streams = true) {
        val df = tr.span(s"$name.construct", "construct")(_ => f(spark, dir))
        tr.span(s"$name.execute", "execute")(_ => df.collect())
      }
      val ns = System.nanoTime() - t0
      val ok = rows.exists { rs =>
        // outside the timed region
        val d = (rs.length.toLong, Corpus.digest(rs))
        got(name) = d
        ctx.check(name, want.get(name).contains(d), s"rows/digest $d, pinned ${want.get(name)}")
      }
      graft.GraftSession.dropStaleBlocks(spark)
      if (ok) Some(ns) else None
    }

    val plan = Gen.ingestBatches(ctx.seed, corpus, BatchesPerPass * 8)
    var accepted = 0L
    val batchS = mutable.ArrayBuffer.empty[Double]
    val io = mutable.ArrayBuffer.empty[(Long, Long)]
    var ingestRunIds = Set.empty[String]
    def artIx = {
      val (a, b) = (Stats.files(art), Stats.files(ix))
      (a._1 + b._1, a._2 + b._2)
    }
    /** Micro-batch files the next ingest consumes, one per trigger. */
    def stage(pass: Int): (Seq[Gen.IngestBatch], String) = {
      val batches = plan.slice(pass * BatchesPerPass, (pass + 1) * BatchesPerPass)
      val src = ctx.path(s"stage/p$pass/src")
      Files.createDirectories(Paths.get(src))
      batches.zipWithIndex.foreach { case (b, i) =>
        val f = f"$src/b$i%04d.parquet"
        Corpus.writeFile(Corpus.docFrame(spark, b.docs).select(schema.fieldNames.map(col): _*), f)
        new java.io.File(f).setLastModified(1700000000000L + i * 1000L)
      }
      (batches, src)
    }
    // one checked ingest stream over a pass's staged batches
    def ingest(pass: Int, batches: Seq[Gen.IngestBatch], src: String): Option[Long] = {
      val marks = mutable.ArrayBuffer.empty[Long]
      val audits = mutable.ArrayBuffer.empty[Map[String, Long]]
      var lastIo = if (tr.on) artIx else (0L, 0L)
      val t0 = System.nanoTime()
      val ran = ctx.op(Ingest, 90, streams = true) {
        val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        Pipeline.streamIngestIndexed(spark, art, ix, in, ctx.path(s"stage/p$pass/checkpoint"),
          onAudit = (_, a) => {
            audits += a.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            marks += System.nanoTime()
            ingestRunIds ++= spark.streams.active.map(_.runId.toString)
            if (tr.on) {
              val now = artIx
              io += ((now._1 - lastIo._1, now._2 - lastIo._2))
              lastIo = now
            }
          })
      }
      val ns = System.nanoTime() - t0
      val ok = ran.isDefined && {
        // outside the timed region: each audit against its planted mix,
        // then the artifact against the starting corpus plus the accepted
        val okBatches = batches.indices.forall { i =>
          val b = batches(i)
          val n = b.novel.toLong
          val w = Map("1_batch_total" -> (b.novel + b.exact + b.redelivered).toLong,
            "2_id_new" -> (n + b.exact), "3_min_length" -> (n + b.exact), "4_exact_new" -> n,
            "5_neardup_new" -> n, "6_image_new" -> n, "7_audio_new_accepted" -> n,
            "8_intra_batch_neardup" -> 0L)
          ctx.check(s"$Ingest pass $pass micro-batch $i audit", audits.lift(i).contains(w),
            s"got ${audits.lift(i)}, planted $w")
        }
        accepted += batches.map(_.novel).sum
        val rows = spark.read.parquet(art).count()
        okBatches && ctx.check(s"$Ingest pass $pass artifact rows", rows == corpus.size + accepted,
          s"$rows, want ${corpus.size + accepted}")
      }
      if (ok) {
        batchS ++= (t0 +: marks.toSeq).zip(marks).map { case (a, b) => (b - a) / 1e9 }
        Some(ns)
      } else None
    }

    val passS = mutable.ArrayBuffer.empty[Double]
    var okCalls = 0
    val perCall = mutable.ArrayBuffer.empty[(String, Span)]
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      if (pass * BatchesPerPass >= plan.size) throw new IllegalStateException("ingest plan exhausted")
      val (batches, src) = stage(pass)
      var timedNs = 0L
      tr.span("pass", "cycle") { _ =>
        Gen.callOrder(ctx.seed, pass, ops.size).map(ops).foreach { name =>
          tr.span(name, "operation", newOp = true) { opSpan =>
            val ns = calls.find(_._1 == name) match {
              case Some((_, f)) => call(name, f)
              case None => ingest(pass, batches, src)
            }
            ns.foreach { n =>
              timedNs += n
              okCalls += 1
              if (tr.on) perCall += ((name, opSpan))
            }
          }
          ctx.settle()
        }
      }
      passS += timedNs / 1e9
      pass += 1
    }
    System.err.println(s"perfbench: corpus_batch $pass passes, corpus ${corpus.size} docs " +
      s"after prepareCorpus; results " + Json(got.map {
        case (k, (n, d)) => k -> Map("rows" -> n, "digest" -> d) }))
    // the unit a user waits for is the pass: single calls of a cold
    // pass differ mostly by how much warm-up the seeded order gave them
    ctx.e2e("step_s") = Stats.median(passS.toSeq)
    ctx.e2e("op_p50_ms") = Stats.median(passS.toSeq) * 1000
    ctx.e2e("op_tail_ms") = Stats.tail(passS.toSeq)._1 * 1000
    ctx.e2e("rate_per_s") = okCalls / passS.sum
    if (tr.on) {
      tr.drain()
      val byParent = tr.all.groupBy(_.parent)
      perCall.filter(_._1 != Ingest).groupBy(_._1).foreach { case (name, ss) =>
        def m(f: Span => Double) = Stats.median(ss.map(x => f(x._2)).toSeq)
        def kid(s: Span, suffix: String) = byParent.getOrElse(s.id, Nil)
          .filter(_.name == s"$name.$suffix").map(k => (k.end - k.start) / 1e9).sum
        def cs(s: Span) = (s +: byParent.getOrElse(s.id, Nil)).map(_.counts)
        ctx.layer(s"$name.construct_s") = m(kid(_, "construct"))
        ctx.layer(s"$name.exec_s") = m(kid(_, "execute"))
        ctx.layer(s"$name.jobs") = m(cs(_).map(_.jobs.sum).sum.toDouble)
        ctx.layer(s"$name.tasks") = m(cs(_).map(_.tasks.sum).sum.toDouble)
        ctx.layer(s"$name.task_run_s") = m(cs(_).map(_.taskRunS.sum).sum)
        ctx.layer(s"$name.shuffle_bytes") = m(cs(_).map(_.shuffleBytes.sum).sum.toDouble)
      }
      ctx.layer("ops.Pipeline.prepareCorpus.s") = prepS
      ctx.layer("ops.Pipeline.saveIngestIndexes.s") = idxS
      ctx.layer(s"$Ingest.batch_s") = Stats.median(batchS.toSeq)
      ctx.layer("spark.io.files_written_per_batch") = Stats.median(io.map(_._1.toDouble).toSeq)
      ctx.layer("spark.io.bytes_written_per_batch") = Stats.median(io.map(_._2.toDouble).toSeq)
      ctx.layer("index.files_total") = Stats.files(ix)._1.toDouble

      // streaming progress: the two stream dedup calls' micro-batches,
      // and the ingest's micro-batches with their scheduler counts
      val (ingestP, callP) = tr.progress.asScala.toSeq.filter(_.numInputRows >= 0)
        .partition(p => ingestRunIds(p.runId.toString))
      ctx.layer("spark.streaming.batches") = callP.size.toDouble
      ctx.layer("spark.streaming.batch_ms_p50") = Stats.median(callP.map(_.batchDuration.toDouble))
      def dur(k: String) = Stats.median(ingestP.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      ctx.layer("spark.streaming.addBatch_ms") = dur("addBatch")
      ctx.layer("spark.streaming.walCommit_ms") = dur("walCommit")
      ctx.layer("spark.streaming.latestOffset_ms") = dur("latestOffset")
      val perBatch = tr.batches.asScala.toSeq
        .collect { case (k, c) if ingestRunIds(k.takeWhile(_ != '/')) => c }
      ctx.layer("spark.scheduler.jobs_per_batch") = Stats.median(perBatch.map(_.jobs.sum.toDouble))
      ctx.layer("spark.scheduler.tasks_per_batch") = Stats.median(perBatch.map(_.tasks.sum.toDouble))
      ctx.layer("spark.scheduler.task_run_s_per_batch") = Stats.median(perBatch.map(_.taskRunS.sum))
    }
  }
}
