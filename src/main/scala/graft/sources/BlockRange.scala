package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A chain as the block-range scan sees it: a tip polled on the driver
  * when a read gives no `end`, and the rows of one block slice, read on an
  * executor (the node ships there with the reader factory) in ascending
  * block, then intra-block record order. */
trait ChainNode extends Serializable {
  def tip(): Long
  def slice(stream: String, lo: Long, hi: Long): Iterator[InternalRow]
}

/** The one DataSourceV2 read shape behind `graft-chain` and `graft-rpc`.
  * A provider supplies its short name and, from a table's options, its
  * [[ChainNode]]; everything else is shared: the raw stream schemas
  * ([[SyntheticChain.schemaFor]]), the table `<shortName>/<stream>`, the
  * options `stream` (default `block`), `start` (0), `end` (the node's tip)
  * and `batchSize` (50), and one scan that is both the batch read and the
  * micro-batch stream.
  *
  * Planning: one input partition per `batchSize` block slice — the
  * reference's RPC batch window (50 blocks, ref:
  * scripts/eth_cassandra_streaming.py:586) becomes Spark's unit of
  * parallelism, so extraction is cluster-wide instead of `max_workers=5`
  * threads. Streaming (the reference's primary mode, continuous ingest
  * with resume, ref: :619-636): offsets are block numbers, the latest
  * offset is one past the tip (the `end` option, or one tip poll per
  * micro-batch — the reference's tip check before planning its range,
  * ref: :588-593), and each micro-batch plans the same slices as a batch
  * read. Checkpointed offsets give exactly-once progress on top of the
  * sources' determinism. */
abstract class BlockRangeSource extends TableProvider with DataSourceRegister {
  /** The chain this source reads, from the table's options; called once
    * per scan, on the driver. */
  protected def node(options: CaseInsensitiveStringMap): ChainNode

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticChain.schemaFor(options.getOrDefault("stream", "block"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val stream = options.getOrDefault("stream", "block")
    new Table with SupportsRead {
      override def name(): String = s"${shortName()}/$stream"
      override def schema(): StructType = SyntheticChain.schemaFor(stream)
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
        val scan = new BlockRangeScan(stream, options.getLong("start", 0L),
          Option(options.get("end")).map(_.toLong),
          options.getLong("batchSize", 50L), node(options))
        () => scan
      }
    }
  }
}

private class BlockRangeScan(stream: String, start: Long, end: Option[Long],
                             batchSize: Long, node: ChainNode)
  extends Scan with Batch with MicroBatchStream {
  override def readSchema(): StructType = SyntheticChain.schemaFor(stream)
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = this

  private def tip(): Long = end.getOrElse(node.tip())
  private def slices(lo: Long, hi: Long): Array[InputPartition] =
    graft.eth.Ingest.planRanges(lo, hi, batchSize)
      .map { case (a, b) => BlockSlice(a, b): InputPartition }.toArray

  override def planInputPartitions(): Array[InputPartition] = slices(start, tip())
  override def createReaderFactory(): PartitionReaderFactory = SliceReaderFactory(stream, node)

  override def initialOffset(): Offset = BlockOffset(start)
  override def latestOffset(): Offset = BlockOffset(tip() + 1)
  override def deserializeOffset(json: String): Offset = BlockOffset(json.toLong)
  override def planInputPartitions(from: Offset, until: Offset): Array[InputPartition] =
    slices(from.asInstanceOf[BlockOffset].next, until.asInstanceOf[BlockOffset].next - 1)
  override def commit(done: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = next block to read, serialized as its decimal string. */
private case class BlockOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

/** Blocks [lo, hi], one input partition. */
private case class BlockSlice(lo: Long, hi: Long) extends InputPartition

private case class SliceReaderFactory(stream: String, node: ChainNode)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val s = p.asInstanceOf[BlockSlice]
    val rows = node.slice(stream, s.lo, s.hi)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
