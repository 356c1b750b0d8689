package perfbench

import java.io.{DataInputStream, File}
import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Output checks. Each returns None when the job's output matches the
  * model's expectation in the manifest, else a one-line reason. None of
  * them reads output through engine code. */
object Checks {

  def check(workload: String, out: File, expect: Map[String, String], spark: SparkSession): Option[String] =
    try workload match {
      case "lww_json" => checkAegJson(out, expect)
      case "restage_lz4" => checkSSTables(out, expect)
      case "cql_wide_rt" => checkParquet(out, expect, spark)
    } catch { case e: Exception => e.printStackTrace(); Some(s"output unreadable: $e") }

  private def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** Byte-exact: the `aeg-*` files, concatenated in index order. */
  def checkAegJson(out: File, expect: Map[String, String]): Option[String] = {
    val files = out.listFiles().filter(_.getName.startsWith("aeg-")).sortBy(_.getName)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    files.foreach { f => val b = Files.readAllBytes(f.toPath); sha.update(b); bytes += b.length }
    mismatch("aeg-JSON bytes", bytes, expect("render_bytes").toLong)
      .orElse(mismatch("aeg-JSON sha256", Model.hex(sha.digest()), expect("render_sha256")))
  }

  /** Order-insensitive digest of every row and cell of the written
    * LZ4-compressed `jb` SSTables, and their Index.db offsets. */
  def checkSSTables(out: File, expect: Map[String, String]): Option[String] = {
    val d = new Digest
    var rows = 0L
    var cells = 0L
    val datas = out.listFiles().filter(_.getName.endsWith("-Data.db"))
    var problem: Option[String] = None
    datas.foreach { f =>
      val data = ByteBuffer.wrap(decompressLz4(f, new File(out, f.getName.replace("-Data.db", "-CompressionInfo.db"))))
      val starts = scala.collection.mutable.ArrayBuffer[(ByteBuffer, Long)]()
      while (data.hasRemaining) {
        val rowStart = data.position().toLong
        val key = bytes(data, data.getShort & 0xffff)
        starts += ((ByteBuffer.wrap(key), rowStart))
        data.getInt
        val deletedAt = data.getLong
        d.add("row", key, deletedAt)
        rows += 1
        var nameLen = data.getShort & 0xffff
        while (nameLen != 0) {
          val name = bytes(data, nameLen)
          val flags = data.get & 0xff
          val (kind, ttl, ldt) =
            if (flags == 0x02) ('e', data.getInt, data.getInt)
            else if (flags == 0x01) ('d', 0, 0)
            else if (flags == 0) ('c', 0, 0)
            else throw new java.io.IOException(s"unexpected cell flags $flags")
          val ts = data.getLong
          val value = bytes(data, data.getInt)
          d.add("cell", key, name, ts, kind, value, ttl, ldt)
          cells += 1
          nameLen = data.getShort & 0xffff
        }
      }
      val index = readIndex(new File(out, f.getName.replace("-Data.db", "-Index.db")))
      if (index != starts.toSeq && problem.isEmpty) problem = Some(s"${f.getName}: Index.db does not match its rows")
    }
    problem
      .orElse(mismatch("rows", rows, expect("rows_out").toLong))
      .orElse(mismatch("cells", cells, expect("cells_out").toLong))
      .orElse(mismatch("digest", d.toString, expect("digest")))
  }

  private def bytes(b: ByteBuffer, n: Int): Array[Byte] = { val a = new Array[Byte](n); b.get(a); a }

  /** Cassandra's chunked LZ4 layout: CompressionInfo.db holds the
    * compressor name, options, chunk length, data length and the chunk
    * offsets; each chunk is `[i32 LE length][LZ4 block][u32 checksum]`. */
  def decompressLz4(data: File, info: File): Array[Byte] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(info)))
    val (dataLength, offsets) = try {
      require(in.readUTF() == "LZ4Compressor", "not LZ4")
      (0 until in.readInt()).foreach { _ => in.readUTF(); in.readUTF() }
      in.readInt()
      val len = in.readLong()
      (len, Array.fill(in.readInt())(in.readLong()))
    } finally in.close()
    val raw = Files.readAllBytes(data.toPath)
    val outBuf = new Array[Byte](Math.toIntExact(dataLength))
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
    var pos = 0
    offsets.indices.foreach { i =>
      val start = offsets(i).toInt
      val end = (if (i + 1 < offsets.length) offsets(i + 1).toInt else raw.length) - 4
      val bb = ByteBuffer.wrap(raw, start, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bb.getInt
      val got = lz4.decompress(raw, start + 4, end - start - 4, outBuf, pos, n)
      require(got == n, s"chunk $i of ${data.getName} decompressed to $got, header says $n")
      pos += n
    }
    require(pos == dataLength, s"${data.getName}: $pos bytes, CompressionInfo says $dataLength")
    outBuf
  }

  /** Index.db entries: `[u16 keyLen][key][i64 offset][i32 0]`. */
  private def readIndex(f: File): Seq[(ByteBuffer, Long)] = {
    val b = ByteBuffer.wrap(Files.readAllBytes(f.toPath))
    val out = Seq.newBuilder[(ByteBuffer, Long)]
    while (b.hasRemaining) {
      val key = bytes(b, b.getShort & 0xffff)
      out += ((ByteBuffer.wrap(key), b.getLong))
      require(b.getInt == 0, "promoted index in Index.db")
    }
    out.result()
  }

  /** Order-insensitive digest of the parquet rows, read by plain Spark. */
  def checkParquet(out: File, expect: Map[String, String], spark: SparkSession): Option[String] = {
    val d = new Digest
    spark.read.parquet(out.getPath).select("pk", "ck", "a", "b").collect().foreach { r =>
      d.add(r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }
    mismatch("pivot digest", d.toString, expect("digest"))
  }
}
