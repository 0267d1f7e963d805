package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Graft

/** What one op hands back: the items it completed and the check of its
  * output, run after the op's clock has stopped. */
final case class OpResult(items: () => Long, verify: () => Unit)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer, val slots: Int) {
  def dir(rep: Int): String = s"$work/rep$rep"
}

/** One seeded workload. `generate(rep)` writes the inputs into a fresh
  * directory and is repeated; `prepare()` then builds state over the last
  * repetition's inputs and warms up, once. `layers` reports the
  * workload's own per-layer metrics from the traced ops. */
trait Workload {
  def generate(rep: Int): Unit
  def prepare(): Unit
  def op(i: Int): OpResult
  /** Whether inputs remain for op `i`. */
  def hasNext(i: Int): Boolean = true
  /** Runs right after traced op `i`, outside its clock, while the
    * recorder is still attached; `jobs` drains and reads it. */
  def afterTracedOp(i: Int, jobs: () => Seq[JobRec]): Unit = ()
  /** Runs once after the timed ops; its output is checked too. */
  def finish(): Unit = ()
  def inputBytes: Long
  def leftBytes: Long
  def layers(traced: Seq[Int], jobs: Seq[JobRec]): Map[String, Double]
}

object Workloads {
  val names: Seq[String] = Seq("mover_fanout", "corpus_fold")

  def apply(name: String, c: Ctx): Workload = name match {
    case "mover_fanout" => new MoverFanout(c)
    case "corpus_fold" => new CorpusFold(c)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Spans of the calls named `name` made by the given ops. */
  def callsOf(t: Tracer, name: String, ops: Seq[Int]): Seq[Span] =
    t.named(name).filter(s => ops.contains(s.op))

  /** Jobs that started inside `s` (job times have millisecond grain). */
  def jobsIn(t: Tracer, s: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter { j =>
      val st = t.epochToNano(j.startMs)
      st >= s.startNs - 1000000L && st <= s.endNs
    }

  def busyS(js: Seq[JobRec]): Double =
    Spans.union(js.map(j => (j.startMs, j.endMs))) / 1e3
}

import Workloads._

// ---- mover_fanout ------------------------------------------------------

/** Each op writes one seed-drawn twelfth of 600k lineitem-shaped rows,
  * partitioned on a seed-chosen key of about 150 values and
  * repartitioned so each value is one file, through the file mover with
  * a `$outputDirectory/moved/$key.csv` template. */
final class MoverFanout(c: Ctx) extends Workload {
  import c.spark.implicits._
  val Draws = 12
  private val key = Gen.moverKeyName(c.seed)
  private val template = "$outputDirectory/moved/$" + key + ".csv"
  private var in = ""
  private var lastOut: Option[String] = None
  // expected row count per (draw, key value), from the input files
  private lazy val groups: Map[Int, Map[Int, Long]] =
    c.spark.read.parquet(in).groupBy("draw", key).count().collect()
      .groupBy(_.getInt(0)).map { case (d, rs) =>
        d -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
  // per traced op: (files moved, plain commit seconds, plain files written)
  private val tracedOps = mutable.Map.empty[Int, (Long, Double, Long)]

  Graft.enableFileMover(c.spark)

  def generate(rep: Int): Unit = {
    in = s"${c.dir(rep)}/lineitem"
    val seed = c.seed
    val draws = Draws
    c.spark.range(0, Gen.LineItems, 1, 2 * c.slots).as[Long]
      .map(id => Gen.lineItem(seed, id, draws))
      .withColumnRenamed("mkey", key)
      .write.mode("overwrite").parquet(in)
  }

  /** Two warm-up writes, of the two draws the timed ops reach last. */
  def prepare(): Unit = {
    val warm = s"${c.work}/warm"
    for (draw <- Seq(Draws - 1, Draws - 2)) {
      write(draw, warm, Some(template))
      rm(new File(warm))
    }
  }

  private def write(draw: Int, out: String, tmpl: Option[String]): Unit = {
    val w = c.spark.read.parquet(in).filter($"draw" === draw).drop("draw")
      .repartition(col(key)).write.mode("overwrite")
    tmpl.fold(w)(w.option(Graft.MoveFilesOption, _)).partitionBy(key).csv(out)
  }

  def op(i: Int): OpResult = {
    val draw = i % Draws
    val out = s"${c.work}/out_$i"
    c.tracer.call("mover.write")(write(draw, out, Some(template)))
    OpResult(() => groups(draw).values.sum, () => {
      lastOut.foreach(p => rm(new File(p)))
      lastOut = Some(out)
      Checks.moverOutput(new File(out), key, groups(draw))
    })
  }

  def inputBytes: Long = du(new File(in))
  def leftBytes: Long = lastOut.map(p => du(new File(p))).getOrElse(0L)

  /** After a traced op: count its moved files, then write the same rows
    * without the template, so the move's share of the commit can be
    * taken apart. */
  override def afterTracedOp(i: Int, jobs: () => Seq[JobRec]): Unit = {
    val moved = Option(new File(s"${c.work}/out_$i/moved").listFiles()).toSeq.flatten
      .count(f => !f.getName.startsWith("."))
    val out = s"${c.work}/plain_$i"
    c.tracer.call("mover.write_plain")(write(i % Draws, out, None))
    val sp = c.tracer.named("mover.write_plain").last
    val commit = commitS(sp, jobsIn(c.tracer, sp, jobs()))
    val files = Checks.files(new File(out)).count(_.getName.startsWith("part-"))
    tracedOps(i) = (moved.toLong, commit, files.toLong)
    rm(new File(out))
  }

  private def commitS(sp: Span, js: Seq[JobRec]): Double =
    if (js.isEmpty) 0.0
    else (sp.endNs - c.tracer.epochToNano(js.map(_.endMs).max)) / 1e9

  def layers(traced: Seq[Int], jobs: Seq[JobRec]): Map[String, Double] = {
    val spans = callsOf(c.tracer, "mover.write", traced)
    val per = spans.map { sp =>
      val commit = commitS(sp, jobsIn(c.tracer, sp, jobs))
      val (moved, plainCommit, written) = tracedOps.getOrElse(sp.op, (0L, 0.0, 0L))
      (commit, commit - plainCommit, moved.toDouble,
        if (written == 0) 0.0 else moved.toDouble / written)
    }
    Map(
      "filemover.commit_s" -> median(per.map(_._1)),
      "filemover.move_s" -> median(per.map(_._2)),
      "filemover.files_moved" -> mean(per.map(_._3)),
      "filemover.moved_ratio" -> mean(per.map(_._4)))
  }
}

// ---- corpus_fold -------------------------------------------------------

/** A genesis fold, then one increment per op through
  * `Graft.corpusPipelineDelta` with media attached, and a final
  * `refreshOutput`. Increment boundaries move with the seed. */
final class CorpusFold(c: Ctx) extends Workload {
  import c.spark.implicits._
  val Genesis = 400
  val Increment = 150
  val MaxIncrements = 16
  val DupRate = 0.04
  private val poolDocs = Gen.incrementStart(c.seed, Genesis, Increment, MaxIncrements + 1)
  private var d = ""
  private var folded = 0L
  private var lastRows: Array[Row] = Array.empty
  var genesisS = 0.0
  var refreshS = 0.0

  private def cfg = graft.queries.CorpusPipeline.Config(
    evalDocs = Some(c.spark.read.parquet(s"$d/eval")))

  private def idRange(j: Int): (Long, Long) = {
    val lo = if (j == 0) 0L else Gen.docId(c.seed, Gen.incrementStart(c.seed, Genesis, Increment, j))
    val hi = Gen.docId(c.seed, Gen.incrementStart(c.seed, Genesis, Increment, j + 1))
    (lo, hi)
  }

  private def slice(path: String, j: Int): DataFrame = {
    val (lo, hi) = idRange(j)
    c.spark.read.parquet(path).filter($"doc_id" >= lo && $"doc_id" < hi)
  }

  private def docsIn(j: Int): Long =
    Gen.incrementStart(c.seed, Genesis, Increment, j + 1) -
      (if (j == 0) 0L else Gen.incrementStart(c.seed, Genesis, Increment, j))

  def generate(rep: Int): Unit = {
    d = c.dir(rep)
    val seed = c.seed
    val dup = DupRate
    val ks = c.spark.range(0, poolDocs, 1, 2 * c.slots).as[Long]
    ks.map(k => Gen.doc(seed, k, dup)).write.mode("overwrite").parquet(s"$d/docs")
    ks.map(k => graft.multimodal.Multimodal.MediaRecord(Gen.docId(seed, k),
        "image/png", Gen.image(seed, k)))
      .write.mode("overwrite").parquet(s"$d/media")
    c.spark.range(0, Gen.EvalDocs, 1, 1).as[Long]
      .map(e => (1000000000000L + e, Gen.evalText(seed, e.toInt)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/eval")
  }

  /** The genesis fold, then the first increment as a warm-up: the first
    * fold after genesis still runs on a cold JIT and codegen cache. */
  def prepare(): Unit = {
    val t0 = System.nanoTime()
    apply(0)
    genesisS = (System.nanoTime() - t0) / 1e9
    apply(1)
  }

  private def apply(j: Int): Array[Row] = {
    val out = Graft.corpusPipelineDelta(slice(s"$d/docs", j), s"$d/state", cfg,
      media = Some(slice(s"$d/media", j).as[graft.multimodal.Multimodal.MediaRecord]))
    val rows = out.collect()
    folded += docsIn(j)
    rows
  }

  override def hasNext(i: Int): Boolean = i + 2 <= MaxIncrements

  def op(i: Int): OpResult = {
    val j = i + 2
    val rows = c.tracer.call("fold.apply")(apply(j))
    val hi = idRange(j)._2
    OpResult(() => docsIn(j), () => {
      lastRows = rows
      Checks.sameRows(rows, batch(hi), s"fold of increment $j")
    })
  }

  private def batch(hi: Long): Array[Row] =
    Graft.corpusPipeline(c.spark.read.parquet(s"$d/docs").filter($"doc_id" < hi), cfg)
      .collect()

  override def finish(): Unit = {
    val t0 = System.nanoTime()
    val rows = c.tracer.call("fold.refresh")(
      graft.queries.CorpusPipelineDelta.refreshOutput(c.spark, s"$d/state", cfg).collect())
    refreshS = (System.nanoTime() - t0) / 1e9
    Checks.sameRows(rows, lastRows, "refreshOutput after the last fold")
  }

  def inputBytes: Long = {
    val pool = du(new File(s"$d/docs")) + du(new File(s"$d/media"))
    (pool.toDouble * folded / poolDocs).toLong
  }
  def leftBytes: Long = du(new File(s"$d/state"))

  def layers(traced: Seq[Int], jobs: Seq[JobRec]): Map[String, Double] = {
    val spans = callsOf(c.tracer, "fold.apply", traced)
    val perOp = spans.map(sp => jobsIn(c.tracer, sp, jobs))
    def busy(p: String => Boolean) =
      mean(perOp.map(js => busyS(js.filter(j => p(j.description)))))
    val fold = (s: String) => s.startsWith("fold: ")
    val named = CorpusFold.Labels.map { l =>
      s"queries.fold.${CorpusFold.metricName(l)}.busy_s" -> busy(_ == s"fold: $l")
    }
    Map(
      "queries.genesis_s" -> genesisS,
      "queries.fold_s" -> median(spans.map(s => (s.endNs - s.startNs) / 1e9)),
      "queries.refresh_s" -> refreshS,
      "queries.fold.unlabeled_busy_s" -> busy(s => !fold(s)),
      "queries.fold.other_busy_s" ->
        busy(s => fold(s) && !CorpusFold.Labels.exists(l => s == s"fold: $l")),
      "operators.sigstore_s" -> busy(_.startsWith("fold: neardup store")),
      "multimodal.media_busy_s" -> busy(_.startsWith("fold: media "))) ++ named
  }
}

object CorpusFold {
  /** The `fold: <label>` job descriptions the pipeline sets. */
  val Labels: Seq[String] = Seq("gate+exact-dedup cut", "ledger hit probe",
    "mix stage", "tail split+pack", "journal write", "retention cut",
    "digest append", "eval grams", "id bounds", "meta read", "meta stage",
    "store meta", "neardup store", "neardup store append",
    "neardup store build", "media dedup", "media fingerprints",
    "media id bounds", "media ledger", "media store", "media store build",
    "media store meta")

  def metricName(label: String): String =
    label.toLowerCase.replaceAll("[^a-z0-9-]+", "_")
}
