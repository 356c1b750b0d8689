package perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.Properties

/** `manifest.properties` of a generated corpus: every file's size and
  * CRC32C, the generator parameters, the model's expected output and the
  * corpus shape. A cached corpus is reused only if every file matches. */
object Manifest {
  private val Name = "manifest.properties"

  def crc(f: File): Long = {
    val c = new java.util.zip.CRC32C
    val in = new FileInputStream(f)
    val buf = new Array[Byte](1 << 20)
    try { var n = in.read(buf); while (n > 0) { c.update(buf, 0, n); n = in.read(buf) } } finally in.close()
    c.getValue
  }

  def write(dir: File, p: Corpus.Params, e: Corpus.Expect): Unit = {
    val m = new Properties
    dir.listFiles().filter(_.isFile).sortBy(_.getName).foreach { f =>
      m.setProperty(s"file.${f.getName}", s"${f.length}:${crc(f)}")
    }
    m.setProperty("param.workload", p.workload)
    m.setProperty("param.seed", p.seed.toString)
    m.setProperty("param.gens", p.gens.toString)
    m.setProperty("param.keys", p.keys.toString)
    p.extra.foreach { case (k, v) => m.setProperty(s"param.$k", v.toString) }
    m.setProperty("expect.rows_out", e.rowsOut.toString)
    m.setProperty("expect.cells_out", e.cellsOut.toString)
    m.setProperty("expect.digest", e.digest.toString)
    m.setProperty("expect.pivot_rows", e.pivotRows.toString)
    m.setProperty("expect.render_bytes", e.renderBytes.toString)
    m.setProperty("expect.render_sha256", Model.hex(e.sha.digest()))
    e.shape.foreach { case (k, v) => m.setProperty(s"shape.$k", v) }
    val out = new FileOutputStream(new File(dir, Name))
    try m.store(out, "perfbench corpus") finally out.close()
  }

  /** The manifest, if it exists and every listed file (and no other)
    * has the recorded size and CRC32C. */
  def verify(dir: File): Option[Properties] = {
    val f = new File(dir, Name)
    if (!f.isFile) return None
    val m = new Properties
    val in = new FileInputStream(f)
    try m.load(in) finally in.close()
    val listed = m.stringPropertyNames().toArray(Array.empty[String]).filter(_.startsWith("file.")).toSet
    val present = dir.listFiles().filter(g => g.isFile && g.getName != Name).map(g => s"file.${g.getName}").toSet
    val ok = listed.nonEmpty && listed == present && listed.forall { k =>
      val g = new File(dir, k.stripPrefix("file."))
      m.getProperty(k) == s"${g.length}:${crc(g)}"
    }
    if (ok) Some(m) else None
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
