package perfbench

import java.sql.Date

/** The benchmark's input generator. Every value is a pure function of
  * (seed, stream, index, field) through a SplitMix64 mix, so the same
  * seed gives the same inputs on any commit: nothing here calls into the
  * program under test. */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Int, index: Long, field: Int): Long =
    mix64(mix64(mix64(seed * 31 + stream) ^ index) + field)

  def unit(seed: Long, stream: Int, index: Long, field: Int): Double =
    (hash(seed, stream, index, field) >>> 11) / 9007199254740992.0

  def below(seed: Long, stream: Int, index: Long, field: Int, n: Int): Int =
    java.lang.Math.floorMod(hash(seed, stream, index, field), n.toLong).toInt

  def gauss(seed: Long, stream: Int, index: Long, field: Int): Double = {
    val u1 = math.max(unit(seed, stream, index, 2 * field), 1e-12)
    val u2 = unit(seed, stream, index, 2 * field + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private val LineItemStream = 1
  private val DocStream = 2
  private val EmbStream = 3
  private val EvalStream = 4
  private val SplitStream = 5
  private val KeyStream = 6

  // ---- lineitem-shaped rows for the mover -----------------------------

  /** Row count of the sf0.1 `lineitem` table the mover rows mimic. */
  val LineItems = 600000

  case class LineItem(l_id: Long, l_orderkey: Long, l_partkey: Long,
      l_suppkey: Long, l_linenumber: Int, l_quantity: Double,
      l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: Date,
      l_comment: String, mkey: Int, draw: Int)

  /** The partition key the seed chooses for the mover: each choice has
    * about 150 values, so fan-out is alike across seeds. */
  def moverKeyKind(seed: Long): Int = below(seed, KeyStream, 0, 0, 3)

  def moverKeyName(seed: Long): String =
    Seq("suppmod", "partmod", "shipmod")(moverKeyKind(seed))

  def lineItem(seed: Long, id: Long, draws: Int): LineItem = {
    def b(f: Int, n: Int) = below(seed, LineItemStream, id, f, n)
    val partkey = 1L + b(1, 20000)
    val suppkey = 1L + b(2, 1000)
    val qty = 1.0 + b(3, 50)
    val price = math.round(qty * (900.0 + b(4, 100000) / 100.0) * 100) / 100.0
    val day = b(5, 2526)
    val key = moverKeyKind(seed) match {
      case 0 => (suppkey % 151).toInt
      case 1 => (partkey % 149).toInt
      case _ => day % 157
    }
    LineItem(id, id / 4 + 1, partkey, suppkey, (id % 7).toInt + 1, qty, price,
      b(6, 11) / 100.0, b(7, 9) / 100.0, "ANR".substring(b(8, 3), b(8, 3) + 1),
      "FO".substring(b(9, 2), b(9, 2) + 1), new Date((8035L + day) * 86400000L),
      sentence(seed, LineItemStream, id, 4 + b(10, 6)), key, b(11, draws))
  }

  // ---- text ------------------------------------------------------------

  private val Stop = Array("the", "a", "data", "value", "table")
  private val Onsets = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "pl", "gr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ou", "ei")

  /** Word `k` of a 6000-word vocabulary (two or three syllables). */
  def word(k: Int): String = {
    val sb = new StringBuilder
    var x = k
    val syll = 2 + k % 2
    var i = 0
    while (i < syll) {
      sb.append(Onsets(x % Onsets.length)); x /= Onsets.length
      sb.append(Nuclei(x % Nuclei.length)); x /= Nuclei.length
      x += k * 7 + i
      i += 1
    }
    sb.append(k.toString.takeRight(1))
    sb.toString
  }

  /** A skewed draw from the vocabulary: one word in eight is a stop
    * word, the rest follow a power law over 6000 words. */
  private def token(seed: Long, stream: Int, index: Long, pos: Int): String = {
    val u = unit(seed, stream, index, 1000 + pos)
    if (u < 0.125) Stop((u * 40).toInt)
    else word((6000 * math.pow(unit(seed, stream, index, 5000 + pos), 2.5)).toInt)
  }

  private def sentence(seed: Long, stream: Int, index: Long, n: Int): String =
    (0 until n).map(token(seed, stream, index, _)).mkString(" ")

  // ---- documents ------------------------------------------------------

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  private val Langs = Array("en", "en", "en", "en", "de", "de", "fr", "fr",
    "zh", "es")

  /** Id of the k-th document: strictly increasing, with seed-drawn gaps. */
  def docId(seed: Long, k: Long): Long = 4 * k + below(seed, DocStream, k, 1, 4)

  /** Text of the k-th document. With probability `dupRate` it is a
    * near-copy of one of the previous 500 documents: identical one time
    * in four, otherwise with one or two words replaced (Jaccard about
    * 0.9 at these lengths). One document in 200 quotes a word trigram
    * from an evaluation document. */
  def docText(seed: Long, k: Long, dupRate: Double): String = {
    if (k > 0 && unit(seed, DocStream, k, 2) < dupRate) {
      val src = k - 1 - below(seed, DocStream, k, 3, math.min(k, 500L).toInt)
      val toks = docText(seed, src, dupRate).split(" ")
      if (below(seed, DocStream, k, 4, 4) != 0) {
        val edits = 1 + below(seed, DocStream, k, 5, 2)
        for (e <- 0 until edits)
          toks(below(seed, DocStream, k, 6 + e, toks.length)) =
            word(6000 + below(seed, DocStream, k, 8 + e, 4000))
      }
      toks.mkString(" ")
    } else {
      val n = 20 + below(seed, DocStream, k, 10, 60)
      val base = sentence(seed, DocStream, k, n)
      if (below(seed, DocStream, k, 11, 200) == 0) {
        val ev = evalText(seed, below(seed, DocStream, k, 12, EvalDocs)).split(" ")
        base + " " + ev.slice(0, 3).mkString(" ")
      } else base
    }
  }

  def doc(seed: Long, k: Long, dupRate: Double): Doc = {
    val text = docText(seed, k, dupRate)
    Doc(docId(seed, k), text, Langs(below(seed, DocStream, k, 20, Langs.length)),
      "src" + below(seed, DocStream, k, 21, 16), text.length.toLong)
  }

  val EvalDocs = 40

  /** Evaluation (decontamination) documents: ids above every corpus id. */
  def evalText(seed: Long, e: Int): String =
    sentence(seed, EvalStream, e, 12 + below(seed, EvalStream, e, 0, 20))

  /** First document index of increment `j` (j >= 1) when increments hold
    * about `size` documents after a genesis of `genesis` documents: each
    * boundary moves by up to a fiftieth of `size`, drawn from the seed. */
  def incrementStart(seed: Long, genesis: Int, size: Int, j: Int): Long =
    if (j <= 1) genesis.toLong
    else genesis.toLong + (j - 1).toLong * size +
      below(seed, SplitStream, j, 0, 2 * (size / 50) + 1) - size / 50

  // ---- embeddings -----------------------------------------------------

  val Dim = 32
  val Clusters = 48

  private def centre(seed: Long, c: Int): Array[Double] =
    Array.tabulate(Dim)(j => gauss(seed, EmbStream, -1L - c, j))

  /** Embedding of vector `id`: a cluster centre plus isotropic noise. */
  def embedding(seed: Long, id: Long): Array[Double] = {
    val c = centre(seed, below(seed, EmbStream, id, 0, Clusters))
    Array.tabulate(Dim)(j => c(j) + 0.35 * gauss(seed, EmbStream, id, 1 + j))
  }

  // ---- images ---------------------------------------------------------

  /** A 32x24 grey PNG. Documents in one of 300 families share a texture;
    * a third of them add a one-step brightness shift, so near-duplicate
    * images are not always byte-identical. */
  def image(seed: Long, k: Long): Array[Byte] = {
    val fam = below(seed, DocStream, k, 30, 300)
    val shift = if (below(seed, DocStream, k, 31, 3) == 0) 3 else 0
    val (w, h) = (32, 24)
    val fx = 0.15 + 0.6 * unit(seed, DocStream, -fam - 1L, 0)
    val fy = 0.10 + 0.6 * unit(seed, DocStream, -fam - 1L, 1)
    val ph = 6.0 * unit(seed, DocStream, -fam - 1L, 2)
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v0 = 127.5 + 87.0 * math.sin(fx * x + fy * y + ph) + shift
      val v = math.max(0, math.min(255, math.round(v0).toInt))
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }
}
