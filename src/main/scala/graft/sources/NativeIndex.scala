package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, OutputStream}

import ChBinary.{atEnd, le, readLe, readString, readVarint, writeString, writeVarint}

/** The block index over Native files (reference:
  * src/Formats/IndexForNativeFormat.cpp:1-91 — the same byte layout,
  * same `extractIndexForColumns` validation): per block a varuint
  * column count and row count, then per column the name and CH type
  * (varint-length strings) and a MarkInCompressedFile — two binary
  * UInt64s, `offset_in_compressed_file` and
  * `offset_in_decompressed_block` (MarkInCompressedFile.h). The mark
  * points at the column's NAME string, exactly where
  * NativeReader.cpp:117-120 seeks before re-reading name/type and
  * verifying them against the index.
  *
  * For the uncompressed files INTO OUTFILE writes,
  * `offset_in_compressed_file` is the plain byte offset and
  * `offset_in_decompressed_block` is 0 (the degenerate mark, same
  * convention the reference uses for uncompressed streams). The index
  * travels as a `<file>.idx` sidecar. What it buys is what it buys
  * the reference's StripeLog: column projection without touching the
  * other columns' bytes, and block skips — NativeFormat.readIndexed
  * decodes a predicate column first and never decodes the remaining
  * columns of blocks with no match (parquet row-group pruning, the
  * Native edition). */
object NativeIndex {

  final case class Mark(offsetCompressed: Long, offsetDecompressed: Long)
  final case class ColumnLoc(name: String, tpe: String, mark: Mark)
  final case class BlockIndex(numRows: Long, columns: Vector[ColumnLoc]) {
    def numColumns: Int = columns.length

    /** reference extractIndexForColumns (IndexForNativeFormat.cpp:42-63),
      * with its exact two failure modes. */
    def extractForColumns(required: Set[String]): BlockIndex = {
      require(numColumns >= required.size,
        "Index contain less than required columns")
      val kept = columns.filter(c => required.contains(c.name))
      require(kept.size >= required.size,
        "Index contain less than required columns")
      require(kept.size <= required.size,
        "Index contain duplicate columns")
      BlockIndex(numRows, kept)
    }
  }

  def sidecarPath(nativePath: String): String = nativePath + ".idx"

  // ---------- io (the data file's ChBinary varints and strings) ----------

  private val Fmt = "Native index"

  def write(path: String, blocks: Seq[BlockIndex]): Unit = {
    val out = new BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try blocks.foreach { b =>
      writeVarint(out, b.numColumns.toLong)
      writeVarint(out, b.numRows)
      b.columns.foreach { c =>
        writeString(out, c.name)
        writeString(out, c.tpe)
        out.write(le(8).putLong(c.mark.offsetCompressed).array())
        out.write(le(8).putLong(c.mark.offsetDecompressed).array())
      }
    } finally out.close()
  }

  /** Whole-index read: blocks until EOF (IndexForNativeFormat::read). */
  def read(path: String): Vector[BlockIndex] = {
    val in = new DataInputStream(new BufferedInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    try {
      val blocks = Vector.newBuilder[BlockIndex]
      while (!atEnd(in)) {
        val ncols = readVarint(in, Fmt).toInt
        require(ncols > 0 && ncols < 100000, s"Native index: $ncols columns")
        val nrows = readVarint(in, Fmt)
        val cols = Vector.newBuilder[ColumnLoc]
        var i = 0
        while (i < ncols) {
          cols += ColumnLoc(readString(in, Fmt), readString(in, Fmt),
            Mark(readLe(in, 8).getLong, readLe(in, 8).getLong))
          i += 1
        }
        blocks += BlockIndex(nrows, cols.result())
      }
      blocks.result()
    } finally in.close()
  }

  /** A position-tracking wrapper so the Native writer can record the
    * index marks: `count` is the logical file position as long as
    * this sits ABOVE any buffering. */
  final class CountingOutputStream(under: OutputStream) extends OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { under.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); count += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }
}
