package graft.sources.kv

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.FileKvStore

/** DataSourceV2 connector over [[graft.sources.FileKvStore]] — the
  * serving-boundary CONNECTOR tier the reference implies (populate
  * writes DynamoDB, `populator.py:47-58`; the API reads it back,
  * `index.py:16-25`): `spark.read.format("graftkv")` /
  * `df.write.format("graftkv").mode("append")` against the same durable
  * log directory `FileKvStore.rowSink` writes, instead of driver-side
  * `FileKvStore.read` calls.
  *
  * Read path: TableProvider → ScanBuilder with FILTER PUSHDOWN — key
  * equality / IN / prefix predicates are claimed by the source
  * (`pushedFilters` shows them in the plan) and applied during log
  * replay, so a point lookup never materializes the full store into the
  * query. The scan plans [[KvDataSource.NumSlices]] input partitions,
  * each owning a hash slice of the KEY space: last-write-wins resolution
  * is per-key, so disjoint key slices replay independently and in
  * parallel. (Each slice replays every log segment — the log is not
  * key-partitioned on disk; a production store shards its logs, at which
  * point a slice maps to a shard. Smoke scale by design, like the store
  * itself.)
  *
  * Write path: WriteBuilder → per-task [[DataWriter]]s, each appending
  * through its own [[FileKvStore]] log segment — executor tasks never
  * contend. Appends are at-least-once under task retries; the store's
  * contract (idempotent upserts, last-write-wins) is exactly what makes
  * that safe, mirroring the reference's unconditioned DynamoDB put_item.
  */
class KvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftkv"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KvTable(properties.get("path"))
}

object KvDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Read parallelism: hash slices of the key space. */
  val NumSlices = 4

  private[kv] def sliceOf(key: String): Int =
    math.floorMod(key.hashCode, NumSlices)

  /** Evaluate a pushed key predicate (exact semantics — Spark does not
    * re-check claimed filters). */
  private[kv] def accepts(f: Filter, key: String): Boolean = f match {
    case EqualTo("key", v: String)       => key == v
    case In("key", vs)                   => vs.exists(_ == key)
    case StringStartsWith("key", prefix) => key.startsWith(prefix)
    case _                               => true
  }
}

final class KvTable(dir: String) extends Table
    with SupportsRead with SupportsWrite {
  require(dir != null, "graftkv requires a path")

  override def name(): String = s"graftkv:$dir"
  override def schema(): StructType = KvDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(dir)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val names = info.schema().fieldNames.toSeq
    require(names == Seq("key", "value"),
      s"graftkv writes a (key, value) schema, got ${names.mkString(", ")}")
    new KvWriteBuilder(dir)
  }
}

final class KvScanBuilder(dir: String) extends ScanBuilder
    with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, residual) = filters.partition {
      case EqualTo("key", _: String)   => true
      case In("key", vs)               => vs.forall(_.isInstanceOf[String])
      case StringStartsWith("key", _)  => true
      case _                           => false
    }
    pushed = p
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new KvScan(dir, pushed)
}

final class KvScan(dir: String, val pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = KvDataSource.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graftkv $dir, PushedFilters: [${pushed.mkString(", ")}]"

  /** Slice PRUNING from the pushed key predicates: an exact-key filter
    * (EqualTo / IN) determines the only slices that can match, so a
    * point lookup plans one partition instead of replaying the log in
    * all of them — the connector-level analogue of partition pruning.
    * Prefix filters can't prune (the slice hash covers the whole key). */
  override def planInputPartitions(): Array[InputPartition] = {
    val exact: Option[Set[Int]] = pushed.collectFirst {
      case EqualTo("key", v: String) => Set(KvDataSource.sliceOf(v))
      case In("key", vs) =>
        vs.collect { case s: String => KvDataSource.sliceOf(s) }.toSet
    }
    exact.getOrElse((0 until KvDataSource.NumSlices).toSet)
      .toArray.sorted.map(KvSlice(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(dir, pushed)
}

case class KvSlice(slice: Int) extends InputPartition

final class KvReaderFactory(dir: String, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[KvSlice].slice
    new PartitionReader[InternalRow] {
      private val it = FileKvStore.read(dir).iterator
        .filter { case (k, _) => KvDataSource.sliceOf(k) == slice }
        .filter { case (k, _) => pushed.forall(KvDataSource.accepts(_, k)) }
      private var cur: (String, String) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(cur._1), UTF8String.fromString(cur._2))
      override def close(): Unit = ()
    }
  }
}

final class KvWriteBuilder(dir: String) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KvBatchWrite(dir)
  }
}

final class KvBatchWrite(dir: String) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = new KvWriterFactory(dir)
  // Log segments are visible as soon as written (append-only store
  // semantics; idempotent upserts make retries safe) — nothing to do.
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class KvWriterFactory(dir: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    // Rows STREAM to a hidden temp segment (bounded memory for any task
    // size); the segment renames into the readable log namespace
    // atomically at task commit — aborted tasks leave nothing visible.
    private lazy val seg = new FileKvStore.SegmentWriter(dir)
    override def write(r: InternalRow): Unit =
      seg.append(r.getUTF8String(0).toString,
        if (r.isNullAt(1)) "" else r.getUTF8String(1).toString)
    override def commit(): WriterCommitMessage = {
      seg.commit()
      KvCommit
    }
    override def abort(): Unit = seg.abort()
    override def close(): Unit = ()
  }
}

case object KvCommit extends WriterCommitMessage
