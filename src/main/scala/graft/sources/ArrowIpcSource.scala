package graft.sources

import java.util.{List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Arrow IPC *file* format (feather v2 / "ARROW1" footer form) as a
  * DataSource V2 — the DISTRIBUTED adoption path for
  * file(path, 'Arrow') (r16 verdict ask #8: the last driver-side
  * reader with a natural distributed split). The IPC file footer
  * indexes every record batch by byte offset, so the natural input
  * split IS the record batch:
  *
  *  - the driver reads ONLY schema + footer (no batch bytes);
  *  - each InputPartition carries a contiguous run of record-batch
  *    indices; executors open the file themselves and load only
  *    their blocks (ArrowFileReader.loadRecordBatch seeks directly);
  *  - column pruning is pushed down (SupportsPushDownRequiredColumns):
  *    a pruned ReadSchema converts only the required vectors.
  *
  * Primitive types only: nested/dictionary columns refuse with
  * parquet guidance. Reference surface: registerFormats.cpp Arrow
  * input; the reference's own reader also splits by record batch
  * (ArrowBlockInputFormat). */
class ArrowIpcSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = false

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-arrow: no path given")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowIpcSource.readSchema(pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ArrowIpcTable(properties.get("path"), schema)
}

object ArrowIpcSource {
  /** Driver-side: schema + record-batch count from the footer only. */
  private[sources] def readSchema(path: String): StructType = {
    withReader(path) { reader =>
      StructType(reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .toSeq.map(f => StructField(f.getName, sparkType(f), f.isNullable)))
    }
  }

  private[sources] def batchCount(path: String): Int =
    withReader(path)(_.getRecordBlocks.size)

  private def withReader[T](path: String)(
      body: org.apache.arrow.vector.ipc.ArrowFileReader => T): T = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(stripFile(path)),
      java.nio.file.StandardOpenOption.READ)
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
    try body(reader)
    finally { reader.close(); ch.close(); alloc.close() }
  }

  private[sources] def stripFile(p: String): String = p.stripPrefix("file:")

  private[sources] def sparkType(
      f: org.apache.arrow.vector.types.pojo.Field): DataType = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    f.getType match {
      // signed only: unsigned vectors box getObject() as Character/
      // wider types that would corrupt or crash the InternalRow path
      case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 64 => LongType
      case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 32 => IntegerType
      case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 16 => ShortType
      case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 8 => ByteType
      case i: ArrowType.Int => throw new IllegalArgumentException(
        s"file(Arrow): unsigned ${i.getBitWidth}-bit columns are not " +
          "supported — re-encode as the signed wider type (or adopt " +
          "via parquet)")
      case fp: ArrowType.FloatingPoint
          if fp.getPrecision ==
            org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE =>
        DoubleType
      case fp: ArrowType.FloatingPoint
          if fp.getPrecision ==
            org.apache.arrow.vector.types.FloatingPointPrecision.SINGLE =>
        FloatType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Bool => BooleanType
      case _: ArrowType.Binary => BinaryType
      case d: ArrowType.Date
          if d.getUnit == org.apache.arrow.vector.types.DateUnit.DAY =>
        DateType
      // any precision converts to Spark's micros; zone-less stamps
      // read as UTC instants (the parquet-adoption convention here)
      case _: ArrowType.Timestamp => TimestampType
      case other => throw new IllegalArgumentException(
        s"file(Arrow): unsupported field type $other — primitive " +
          "columns only (adopt nested data via parquet)")
    }
  }
}

private class ArrowIpcTable(path: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"arrow-ipc:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowIpcScanBuilder(path, schema)
}

private class ArrowIpcScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ArrowIpcScan(path, required)
}

private class ArrowIpcScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ArrowIpc $path ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = ArrowIpcSource.batchCount(path)
    if (n == 0) Array(ArrowBatchPartition(path, 0, 0))
    else {
      // one partition per record batch up to a cap, then contiguous
      // runs — batch boundaries are the writer's flushes, the same
      // role parquet row groups play as split points
      val maxParts = 64
      val per = math.max(1, (n + maxParts - 1) / maxParts)
      (0 until n by per).map(s =>
        ArrowBatchPartition(path, s, math.min(n, s + per))).toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowIpcReaderFactory(required)
}

private case class ArrowBatchPartition(path: String, from: Int, until: Int)
    extends InputPartition

private class ArrowIpcReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ArrowIpcPartitionReader(p.asInstanceOf[ArrowBatchPartition], required)
}

private class ArrowIpcPartitionReader(part: ArrowBatchPartition,
    required: StructType) extends PartitionReader[InternalRow] {
  private val alloc = new org.apache.arrow.memory.RootAllocator()
  private val ch = java.nio.channels.FileChannel.open(
    java.nio.file.Paths.get(ArrowIpcSource.stripFile(part.path)),
    java.nio.file.StandardOpenOption.READ)
  private val reader =
    new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
  private val blocks = reader.getRecordBlocks
  private var blockIdx = part.from
  private var vectors: Seq[org.apache.arrow.vector.FieldVector] = Nil
  private var rowCount = 0
  private var rowIdx = 0

  private def loadNext(): Boolean = {
    if (blockIdx >= part.until) return false
    reader.loadRecordBatch(blocks.get(blockIdx))
    blockIdx += 1
    val root = reader.getVectorSchemaRoot
    // convert ONLY the pruned columns (the pushdown's executor half)
    vectors = required.fields.toSeq.map(f => root.getVector(f.name))
    rowCount = root.getRowCount
    rowIdx = 0
    true
  }

  override def next(): Boolean = {
    while (rowIdx >= rowCount) if (!loadNext()) return false
    true
  }

  override def get(): InternalRow = {
    import org.apache.arrow.vector._
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val vec = vectors(i)
      row.update(i,
        if (vec.isNull(rowIdx)) null
        else vec match {
          // Date/Timestamp carry Spark's internal physical types
          // (days / micros), not the boxed java.time objects
          case d: DateDayVector => d.get(rowIdx)
          case t: TimeStampMicroVector => t.get(rowIdx)
          case t: TimeStampMicroTZVector => t.get(rowIdx)
          case t: TimeStampMilliVector => t.get(rowIdx) * 1000L
          case t: TimeStampMilliTZVector => t.get(rowIdx) * 1000L
          case t: TimeStampSecVector => t.get(rowIdx) * 1000000L
          case t: TimeStampSecTZVector => t.get(rowIdx) * 1000000L
          case t: TimeStampNanoVector => t.get(rowIdx) / 1000L
          case t: TimeStampNanoTZVector => t.get(rowIdx) / 1000L
          case _ => vec.getObject(rowIdx) match {
            case t: org.apache.arrow.vector.util.Text =>
              UTF8String.fromBytes(t.getBytes)
            case other => other
          }
        })
      i += 1
    }
    rowIdx += 1
    row
  }

  override def close(): Unit = { reader.close(); ch.close(); alloc.close() }
}
