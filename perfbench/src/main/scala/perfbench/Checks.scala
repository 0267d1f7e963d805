package perfbench

import java.io.File

/** A wrong output: the op counts as failed. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Output checks, one per workload. Each throws [[CheckFailed]] naming
  * the first difference it finds. */
object Checks {
  private def fail(msg: String): Nothing = throw new CheckFailed(msg)

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)

  private def lines(f: File): Long = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().count(_.nonEmpty).toLong finally src.close()
  }

  /** Every key has its target `moved/<key>.csv` holding exactly its
    * group's rows, and no `part-*` file is left anywhere under `out`. */
  def moverOutput(out: File, key: String, expected: Map[Int, Long]): Unit = {
    files(out).find(_.getName.startsWith("part-")).foreach(p =>
      fail(s"unmoved file left: ${out.toPath.relativize(p.toPath)}"))
    // hidden checksum files (.x.csv.crc) travel with their data files
    val targets = Option(new File(out, "moved").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getName.stripSuffix(".csv") -> f).toMap
    expected.toSeq.sortBy(_._1).foreach { case (k, n) =>
      val t = targets.getOrElse(k.toString, fail(s"missing target moved/$k.csv"))
      val got = lines(t)
      if (got != n) fail(s"moved/$k.csv holds $got rows, its $key group has $n")
    }
    val extra = targets.keySet -- expected.keySet.map(_.toString)
    if (extra.nonEmpty) fail(s"unexpected targets: ${extra.toSeq.sorted.take(5)}")
  }

  /** SHA-256 over the rows' string forms, order-insensitive. */
  def contentHash(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def sameRows(got: Seq[org.apache.spark.sql.Row],
      want: Seq[org.apache.spark.sql.Row], what: String): Unit = {
    val (g, w) = (contentHash(got), contentHash(want))
    if (g != w) fail(s"$what: content hash ${g.take(12)} over ${got.size} rows, " +
      s"batch answer ${w.take(12)} over ${want.size} rows")
  }
}
