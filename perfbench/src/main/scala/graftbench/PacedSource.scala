package graftbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An open-loop micro-batch source: row `i` of `Corpus` is due at
  * `t0 + i / rate`, where `t0` is the wall time of the query's first offset
  * request. `latestOffset` reports every row due by the current wall
  * millisecond, so the schedule never waits for the engine: a slow batch
  * leaves a backlog for the next one instead of slowing the generator.
  *
  * Rows carry Kafka's `key`/`value` binary shape plus `due_ms`, the row's
  * due time in epoch milliseconds. They are generated inside the executor
  * tasks from the seed's message pool.
  *
  * Options: `seed`, `rate` (rows/s), `partitions`, `limit` (highest offset
  * the source ever reports) and `id`, under which the stream registers
  * itself in `PacedSource.streams` so the benchmark can read `t0` and the
  * per-batch generator timings; the caller removes it when done.
  */
class PacedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PacedSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = new PacedTable
}

object PacedSource {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("due_ms", LongType, nullable = false)))

  val streams = new ConcurrentHashMap[String, PacedStream]()
}

class PacedTable extends Table with SupportsRead {
  override def name(): String = "graftbench_paced"
  override def schema(): StructType = PacedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = PacedSource.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new PacedStream(options.get("seed").toLong, options.get("rate").toDouble,
        options.get("partitions").toInt, options.getLong("limit", Long.MaxValue), options.get("id"))
  }
}

final class PacedOffset(val n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Generator timing of one batch: how far the offset request ran behind the
  * due time of the last row it reported, and the executor time spent
  * generating the batch's rows. Readers add to `genNs` directly, which
  * holds because the benchmark runs Spark in local mode: executors are
  * threads of the driver JVM.
  */
final class BatchGen(val clockLagMs: Double) {
  val genNs = new java.util.concurrent.atomic.AtomicLong()
}

final class PacedStream(seed: Long, rate: Double, parts: Int, limit: Long, id: String)
    extends MicroBatchStream {
  @volatile private var t0: Long = -1L
  /** Offset-request lag, keyed by the end offset the request reported. */
  private val lags = new ConcurrentHashMap[java.lang.Long, java.lang.Double]()
  /** Generator timing, keyed by batch start offset. */
  val batches = new ConcurrentHashMap[java.lang.Long, BatchGen]()
  PacedSource.streams.put(id, this)

  def t0Ms: Long = t0
  def dueMs(i: Long): Double = t0 + i * 1000.0 / rate

  private def start(): Unit = synchronized { if (t0 < 0) t0 = System.currentTimeMillis() }

  override def initialOffset(): Offset = { start(); new PacedOffset(0L) }

  override def latestOffset(): Offset = {
    start()
    val now = System.currentTimeMillis()
    val due = math.min(limit, math.floor((now - t0) * rate / 1000.0).toLong + 1)
    if (due > 0) lags.put(due, now - dueMs(due - 1))
    new PacedOffset(math.max(due, 0L))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[PacedOffset].n
    val hi = end.asInstanceOf[PacedOffset].n
    batches.put(lo, new BatchGen(Option(lags.get(hi)).map(_.doubleValue).getOrElse(0.0)))
    val step = math.max(1L, (hi - lo + parts - 1) / parts)
    (lo until hi by step).map { a =>
      PacedPartition(id, lo, a, math.min(hi, a + step), seed, t0, rate): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PacedReader(p.asInstanceOf[PacedPartition])
  }

  override def deserializeOffset(json: String): Offset = new PacedOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class PacedPartition(stream: String, batch: Long, lo: Long, hi: Long, seed: Long,
                                t0: Long, rate: Double) extends InputPartition

/** Generates its range in chunks and times only the generation. */
final class PacedReader(p: PacedPartition) extends PartitionReader[InternalRow] {
  private val Chunk = 4096
  private val pool = Corpus.pool(p.seed)
  private val buf = new Array[InternalRow](Chunk)
  private var i = p.lo - 1
  private var bufLo = p.lo
  private var bufN = 0
  private var spentNs = 0L

  private def fill(): Unit = {
    val t = System.nanoTime()
    bufLo = i
    bufN = math.min(Chunk.toLong, p.hi - i).toInt
    var k = 0
    while (k < bufN) {
      val r = bufLo + k
      buf(k) = new GenericInternalRow(Array[Any](
        Corpus.key(r), pool.values(Corpus.slot(p.seed, r)), p.t0 + (r * 1000.0 / p.rate).toLong))
      k += 1
    }
    spentNs += System.nanoTime() - t
  }

  override def next(): Boolean = {
    i += 1
    if (i >= p.hi) false
    else { if (i - bufLo >= bufN) fill(); true }
  }

  override def get(): InternalRow = buf((i - bufLo).toInt)
  override def close(): Unit = for {
    s <- Option(PacedSource.streams.get(p.stream))
    b <- Option(s.batches.get(p.batch))
  } b.genNs.addAndGet(spentNs)
}
