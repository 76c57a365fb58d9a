package perfbench

import java.io.File
import java.nio.file.Files

/** The inputs `gen.py` wrote for this run: its `_MANIFEST` lists each
  * table's sha256 and row count and the planted rates. The files are
  * re-hashed here, so a run never measures inputs that changed on disk. */
object Gen {

  final case class Inputs(dir: String, files: Seq[(String, String, Long)],
                          planted: Seq[(String, Double)]) {
    def rows(table: String): Long = files.find(_._1 == table).map(_._3).getOrElse(0L)
  }

  def open(dir: String): Inputs = {
    val lines = new String(Files.readAllBytes(new File(dir, "_MANIFEST").toPath), "UTF-8")
      .split("\n").toSeq.map(_.trim.split(" "))
    val files = lines.collect { case Array("table", n, sha, rows) => (n, sha, rows.toLong) }
    files.foreach { case (name, sha, _) =>
      val actual = sha256(new File(dir, name + ".parquet"))
      require(actual == sha, s"input $dir/$name.parquet changed on disk " +
        s"(sha256 $actual, manifest $sha); delete $dir to regenerate")
    }
    Inputs(dir, files, lines.collect { case Array("planted", k, v) => (k, v.toDouble) })
  }

  def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map(b => f"${b & 0xff}%02x").mkString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
