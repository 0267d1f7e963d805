package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** The media-aware incremental pipeline (VERDICT r15 task 1 — the last
  * uncomposed capstone): a fold chain that gates TEXT and dedups the
  * increments' attached IMAGES through the persisted Hamming store,
  * under ONE journal, must equal BOTH batch twins on the unioned
  * corpus — the text pipeline row-for-row, and `Graft.imageDedup`'s
  * retention id-for-id, with a cross-increment image duplicate dropped
  * exactly once. Plus: a crash injected in the media window rolls BOTH
  * modalities back to exactly the pre-increment state, and the media
  * id contract refuses out-of-order ids before any mutation. */
class CorpusPipelineMediaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.delete()
    p.toString
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  // ---- text side: the chain spec's fixture, halved for runtime -------
  private lazy val docs = graft.Tables(spark, dir, "documents")
  private lazy val eval = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 === 0).select($"doc_id", $"text")
  }
  private lazy val corpus = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 2 === 0)
  }
  private def cfg = CorpusPipeline.Config(evalDocs = Some(eval))

  // ---- media side: the shared deterministic images (graft.TestImages)
  private def pattern(seed: Int, w: Int, h: Int, brightness: Int = 0) =
    graft.TestImages.pattern(seed, w, h, brightness)
  private def encode(im: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = graft.TestImages.encode(im, fmt)

  private def rec(id: Long, t: String, p: Array[Byte]) =
    Multimodal.MediaRecord(id, t, p)

  private val maxDist = 10

  /** Three media increments covering every relation class: a
    * within-increment dup (3 re-encodes 2), CROSS-INCREMENT dups (100
    * brightens 0 — the headline assertion; 201 resizes 1), fresh rows,
    * plus corrupt and fake rows that must be retained untouched. */
  private def mediaBatches: Seq[Seq[Multimodal.MediaRecord]] = {
    val base = (0 until 5).map(s => s.toLong ->
      encode(pattern(s, 48, 36), "png")).toMap
    Seq(
      Seq(rec(0, "image/png", base(0L)), rec(1, "image/png", base(1L)),
        rec(2, "image/png", base(2L)),
        rec(3, "image/bmp", encode(pattern(2, 48, 36), "bmp")),
        rec(50, "image/png", Array[Byte](9, 9, 9)), // corrupt — retained
        rec(51, "image/fake", "not an image".getBytes("UTF-8"))),
      Seq(rec(100, "image/png",
          encode(pattern(0, 48, 36, brightness = 25), "png")),
        rec(101, "image/png", base(3L))),
      Seq(rec(200, "image/png", base(4L)),
        rec(201, "image/png",
          Multimodal.Codecs.resizeImage(base(1L), 24, 18).get)))
  }

  private def mediaDs(b: Seq[Multimodal.MediaRecord]) = {
    import spark.implicits._
    b.toDS()
  }

  private def retainedIds(state: String): Set[Long] =
    CorpusPipelineDelta.retainedMediaIds(spark, state)
      .collect().map(_.getLong(0)).toSet

  private def batchRetainedIds(b: Seq[Multimodal.MediaRecord]): Set[Long] =
    graft.Graft.imageDedup(mediaDs(b), maxDist)
      .collect().map(_.doc_id).toSet

  test("3-increment text+media fold chain == BOTH batch twins; the " +
      "cross-increment image dup is dropped exactly once") {
    import spark.implicits._
    val state = tmp("cpm_chain")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val incs = Seq(
      corpus.filter($"doc_id" <= b1),
      corpus.filter($"doc_id" > b1 && $"doc_id" <= b2),
      corpus.filter($"doc_id" > b2))
    val ms = mediaBatches
    for (i <- 0 until 3) {
      CorpusPipelineDelta.foldIncrement(incs(i), state, cfg,
        media = Some(mediaDs(ms(i))), mediaMaxDist = maxDist)
      // after EVERY fold the replayed retention equals the batch facade
      // on the union so far — including the fp-less corrupt/fake rows
      assert(retainedIds(state) == batchRetainedIds(ms.take(i + 1).flatten),
        s"media retention diverged from the batch facade after fold $i")
    }
    // text half: the chain == the batch pipeline on the unioned corpus
    val out = CorpusPipelineDelta.refreshOutput(spark, state, cfg)
    val batch = CorpusPipeline.assemble(corpus, cfg)
    assert(rows(out).nonEmpty && rows(out) == rows(batch),
      "text chain diverged from the batch pipeline with media attached")
    // the cross-increment dup BY NAME: 100 (a brightness-shift of 0)
    // arrived in increment 2 and was dropped exactly once — 0 retained,
    // 100 gone, and the pair (0, 100) recorded exactly once
    val retained = retainedIds(state)
    assert(retained(0L) && !retained(100L) && !retained(201L),
      s"cross-increment dups mishandled: $retained")
    assert(retained(50L) && retained(51L),
      "fp-less rows must be retained by definition")
    val pairRows = CorpusPipelineDelta.mediaPairs(spark, state)
      .filter($"doc_id_a" === 0L && $"doc_id_b" === 100L).count()
    assert(pairRows == 1L,
      s"the cross-increment pair must be logged exactly once: $pairRows")
    // within-increment dup from increment 1 still dropped
    assert(!retained(3L), "within-increment dup survived")
  }

  test("a crash in the media window rolls BOTH modalities back to the " +
      "pre-increment state; the re-run converges on both twins") {
    import spark.implicits._
    val state = tmp("cpm_crash")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val (inc1, inc2) =
      (corpus.filter($"doc_id" <= half), corpus.filter($"doc_id" > half))
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg,
      media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    val mediaAfter1 = retainedIds(state)
    val pairsAfter1 = rows(CorpusPipelineDelta.mediaPairs(spark, state))
    val out1 = rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg))

    // crash AFTER the media appends, before the commit marker — the
    // dirtiest media window: pairs, store bands and ledger rows are on
    // disk for an increment that never committed
    spark.conf.set(CorpusPipelineDelta.CrashPointConf, "post-media")
    try intercept[CorpusPipelineDelta.InjectedCrash] {
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg,
        media = Some(mediaDs(ms(1) ++ ms(2))), mediaMaxDist = maxDist)
    } finally spark.conf.unset(CorpusPipelineDelta.CrashPointConf)

    val rec = CorpusPipelineDelta.recoverFold(spark, state)
    assert(rec.isInstanceOf[CorpusPipelineDelta.RolledBack], rec.toString)
    // BOTH modalities are exactly pre-increment
    assert(retainedIds(state) == mediaAfter1,
      "media state not rolled back with the text state")
    assert(rows(CorpusPipelineDelta.mediaPairs(spark, state)) == pairsAfter1)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) == out1)

    // RolledBack ⇒ re-run the increment; the chain then equals both
    // batch twins as if the crash never happened
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg,
      media = Some(mediaDs(ms(1) ++ ms(2))), mediaMaxDist = maxDist)
    assert(retainedIds(state) == batchRetainedIds(ms.flatten),
      "re-run after rollback diverged from the media batch twin")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(corpus, cfg)),
      "re-run after rollback diverged from the text batch twin")
  }

  test("media id contract: an increment whose media ids are not " +
      "strictly greater than the state's refuses BEFORE any mutation; " +
      "a media-less fold leaves the media state untouched") {
    import spark.implicits._
    val state = tmp("cpm_ids")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" <= half), state, cfg,
      media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    val mediaAfter1 = retainedIds(state)
    // id 51 was already folded (fp-less rows count: they are ledgered)
    val ex = intercept[IllegalArgumentException] {
      CorpusPipelineDelta.foldIncrement(
        corpus.filter($"doc_id" > half), state, cfg,
        media = Some(mediaDs(Seq(ms(1).head.copy(doc_id = 51L)))),
        mediaMaxDist = maxDist)
    }
    assert(ex.getMessage.contains("media increment ids"), ex.getMessage)
    assert(retainedIds(state) == mediaAfter1, "refusal mutated the state")
    // a fold WITHOUT media still advances the text state and carries
    // the media state through unchanged
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" > half), state, cfg)
    assert(retainedIds(state) == mediaAfter1)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(corpus, cfg)),
      "mixed media/media-less chain diverged from the text batch twin")
  }

  test("a fold refused by the id-ordering precondition joins every " +
      "fold job it started before the refusal propagates") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val state = tmp("cpm_refused")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val inc1 = corpus.filter($"doc_id" <= maxId / 2)
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg,
      media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusBridge.drain(sc)
    // (label, event, time) of every `fold:`-labelled job start and end
    val labels = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val events =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("fold:")).foreach { l =>
            labels.put(e.jobId, l)
            events.add((l, "start", e.time))
          }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(labels.get(e.jobId)).foreach(l => events.add((l, "end", e.time)))
    }
    sc.addSparkListener(listener)
    val caught =
      try {
        // the same text increment again: its ids are not above the
        // state's max, so the fold refuses after its head jobs started.
        // A slowed text column keeps the text-reading head jobs running
        // past the refusal; the id-bounds check never reads the text.
        val slowText = udf { (t: String) => Thread.sleep(10); t }
        val ex = intercept[IllegalArgumentException] {
          CorpusPipelineDelta.foldIncrement(
            inc1.withColumn("text", slowText(col("text"))), state, cfg,
            media = Some(mediaDs(ms(1))), mediaMaxDist = maxDist)
        }
        val at = System.currentTimeMillis()
        assert(ex.getMessage.contains("increment ids must be strictly"),
          ex.getMessage)
        // a job left running (or not yet started) would show up here
        Thread.sleep(2000)
        at
      } finally {
        org.apache.spark.ListenerBusBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    val recorded = events.asScala.toSeq
    assert(recorded.exists(_._2 == "end"), "no fold job was recorded")
    val late = recorded.filter(_._3 > caught)
    assert(late.isEmpty, s"fold jobs ran after the refusal: $late")
  }
}
