package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Rows per second of each codegen kernel, evaluated through its public
  * `Column` function over a fixed frame of generated documents and
  * embeddings. The frame is cached and counted before timing; each
  * cached row is fed to the kernel `Repeat` times, so a job does enough
  * kernel work to outweigh its scheduling; each kernel runs once untimed;
  * a cheap aggregate sinks the output so the expression cannot be
  * pruned. */
object Kernels {
  val Rows = 20000
  val Repeat = 8

  private def kernels: Seq[(String, Column)] = Seq(
    "word_ngrams" -> sum(size(WordNGrams.wordNGrams(col("text"), 3))),
    "minhash_bands" -> sum(size(MinHashBands.minhashBands(col("toks")))),
    "char_entropy" -> sum(CharEntropy.charEntropy(col("text"))),
    "rolling_hash" -> sum(RollingHash.rollingHash(col("text"), 64)),
    "winnow" -> sum(size(WinnowFingerprints.winnowFingerprintsText(col("text"), 5, 4))),
    "cosine" -> sum(CosineSimilarity.cosineSim(col("v"), col("w"))),
    "srp_signature" -> sum(SrpSignature.srpSignature(col("v"), 16)))

  def measure(spark: SparkSession, seed: Long, slots: Int): Map[String, Double] = {
    import spark.implicits._
    val frame = spark.range(0, Rows, 1, slots).as[Long]
      .map(k => (Gen.docText(seed, k, 0.04), Gen.embedding(seed, k),
        Gen.embedding(seed, k + Rows)))
      .toDF("text", "v", "w")
      .withColumn("toks", array_distinct(split(col("text"), " ")))
      .cache()
    frame.count()
    val fed = frame.withColumn("r", explode(array_repeat(lit(0), Repeat)))
    try kernels.map { case (name, sink) =>
      // a fresh Dataset per run: re-collecting one would reuse its
      // finished shuffle stages and skip the kernel
      def once(): Unit = fed.agg(sink).collect()
      once()
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 2 || System.nanoTime() - t0 < 300000000L) {
        once(); reps += 1
      }
      s"functions.$name.rows_per_s" ->
        Rows.toDouble * Repeat * reps / ((System.nanoTime() - t0) / 1e9)
    }.toMap
    finally frame.unpersist(blocking = true)
  }
}
