package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row

/** Shows that each output check passes a right output and rejects a
  * deliberately wrong one: a dropped row or an unmoved file. Needs no
  * Spark session. Exits non-zero on the first check that
  * fails to reject. */
object SelfTest {
  private def rejects(what: String)(body: => Unit): Unit = {
    val rejected = try { body; false } catch { case _: CheckFailed => true }
    if (!rejected) throw new AssertionError(s"check accepted a wrong output: $what")
    println(s"perfbench selftest: rejected $what")
  }

  private def accepts(what: String)(body: => Unit): Unit = {
    body
    println(s"perfbench selftest: accepted $what")
  }

  private def write(f: File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def run(): Unit = {
    val root = Files.createTempDirectory(new File(".").toPath.toAbsolutePath,
      ".perfbench-selftest").toFile
    try {
      // mover: two keys, three and two rows
      val expected = Map(7 -> 3L, 9 -> 2L)
      def moverOut(name: String): File = {
        val out = new File(root, name)
        write(new File(out, "moved/7.csv"), Seq("a,1", "b,2", "c,3"))
        write(new File(out, "moved/9.csv"), Seq("d,4", "e,5"))
        out
      }
      accepts("mover output")(Checks.moverOutput(moverOut("ok"), "k", expected))
      val dropped = moverOut("dropped")
      write(new File(dropped, "moved/7.csv"), Seq("a,1", "c,3"))
      rejects("mover output with a dropped row")(
        Checks.moverOutput(dropped, "k", expected))
      val unmoved = moverOut("unmoved")
      new File(unmoved, "moved/9.csv").renameTo({
        val p = new File(unmoved, "k=9/part-00000-x.csv"); p.getParentFile.mkdirs(); p })
      rejects("mover output with an unmoved file")(
        Checks.moverOutput(unmoved, "k", expected))

      // corpus fold: the refreshed output against the batch answer
      val batch = Seq(Row(1L, "src0", 40L), Row(5L, "src2", 33L), Row(9L, "src0", 12L))
      accepts("fold output")(Checks.sameRows(batch.reverse, batch, "fold"))
      rejects("fold output with a dropped row")(
        Checks.sameRows(batch.take(2), batch, "fold"))
    } finally Workloads.rm(root)
    println("""{"selftest":"ok"}""")
  }
}
