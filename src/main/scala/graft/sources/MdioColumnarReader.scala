package graft.sources

import graft.zarr.{ChunkCodec, ZarrMeta}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Vectorized chunk reader: decompresses each variable's chunk once, then
  * fills OnHeapColumnVectors in batches of up to
  * [[MdioColumnarReader.BatchRows]] cells, C-order over the pushed cell
  * range, one contiguous inner-dimension RUN at a time (a run may straddle
  * a batch boundary; it then continues in the next batch).
  *
  * Each column picks its run fill once per reader:
  *  - an outer dimension column is one `putLongs(n, len, c)`, the inner
  *    dimension a ramp;
  *  - a missing chunk is one bulk `put*(n, len, fill)`, the fill given by
  *    [[ZarrMeta.ArrayMeta.fillDouble]] / `fillLong` (the rule the writers
  *    seed with), zero bytes for a record dtype;
  *  - a value column whose Spark type has the stored width (<f4, <f8, <i4,
  *    <i8) copies the decompressed little-endian bytes straight in;
  *  - widening (f2, u1–u8, b1) and struct (complex re/im, record) dtypes
  *    decode the chunk once through [[ChunkCodec]] and fill each run with
  *    a loop typed for the column; struct fields fill the child vectors. */
final class MdioColumnarReader(p: MdioInputPartition, dims: Array[String], schema: StructType,
                               sharedCache: graft.zarr.ShardCache = null)
    extends PartitionReader[ColumnarBatch] {
  import MdioColumnarReader._

  // shard handles reused across inner-chunk reads; owned here only when
  // not provided by an enclosing chunk-range reader
  private val shardCache = if (sharedCache != null) sharedCache else new graft.zarr.ShardCache
  private val ownsCache = sharedCache == null

  private val rank = dims.length
  private val inner = rank - 1
  private val meta0 = p.metas.headOption.getOrElse(
    ZarrMeta.ArrayMeta(Seq.fill(rank)(0L), Seq.fill(rank)(1L), "<f8", None, None))
  private val chunkShape: Array[Long] = meta0.chunks.toArray
  private val strides: Array[Long] = {
    val s = new Array[Long](rank)
    var acc = 1L
    var i = rank - 1
    while (i >= 0) { s(i) = acc; acc *= chunkShape(i); i -= 1 }
    s
  }

  /** Decompressed little-endian chunk bytes per variable; null when the
    * chunk is absent. */
  private val raws: Array[Array[Byte]] = p.vars.indices.map { vi =>
    val m = p.metas(vi)
    MdioColumnarReader.chunkReads.incrementAndGet()
    val file = m.chunkFile(ZarrMeta.path(p.path).resolve(p.vars(vi)), p.chunk.toSeq)
    // sharded v3 arrays: the file is the shard object; range-read the
    // inner chunk through the footer index
    val bytes =
      if (m.shard.isDefined) shardCache.readInnerChunk(file, m, p.chunk.toSeq)
      else file.readBytesOrNull()
    if (bytes == null) null
    else ChunkCodec.decompress(bytes, m.compressor, (m.chunks.product * m.elemSize).toInt)
  }.toArray

  private val cur: Array[Long] = new Array[Long](rank)
  private var exhausted = false
  locally {
    var i = 0
    while (i < rank) {
      cur(i) = p.cellLo(i)
      if (p.cellLo(i) >= p.cellHi(i)) exhausted = true
      i += 1
    }
  }

  // batch capacity: never larger than the cell range itself, so a task
  // iterating many SMALL chunks (the coalesced-range shape) does not
  // allocate 4096-row vector sets per 4-cell chunk
  private val capacity: Int = {
    var cells = 1L
    var i = 0
    while (i < rank && cells < MdioColumnarReader.BatchRows) {
      cells *= math.max(p.cellHi(i) - p.cellLo(i), 0L)
      i += 1
    }
    math.max(1, math.min(cells, MdioColumnarReader.BatchRows.toLong).toInt)
  }
  private val vectors: Array[OnHeapColumnVector] =
    schema.fields.map(f => new OnHeapColumnVector(capacity, f.dataType))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  private val fills: Array[RunFill] = Array.tabulate[RunFill](schema.length) { f =>
    val vec = vectors(f)
    val name = schema.fields(f).name
    val di = dims.indexOf(name)
    if (di >= 0 && di == inner) {
      (n: Int, _: Int, len: Int) =>
        val c0 = cur(di)
        var i = 0
        while (i < len) { vec.putLong(n + i, c0 + i); i += 1 }
    } else if (di >= 0) (n: Int, _: Int, len: Int) => vec.putLongs(n, len, cur(di))
    else {
      val vi = p.vars.indexOf(name.stripSuffix("__value"))
      valueFill(vec, schema.fields(f).dataType, p.metas(vi), raws(vi))
    }
  }

  /** Step the odometer past a run of `len` inner cells; false when the
    * range is exhausted. */
  private def advance(len: Int): Boolean = {
    if (rank == 0) return false
    cur(inner) += len
    if (cur(inner) < p.cellHi(inner)) return true
    cur(inner) = p.cellLo(inner)
    var i = inner - 1
    while (i >= 0) {
      cur(i) += 1
      if (cur(i) < p.cellHi(i)) return true
      cur(i) = p.cellLo(i)
      i -= 1
    }
    false
  }

  override def next(): Boolean = {
    if (exhausted) return false
    var n = 0
    vectors.foreach(_.reset())
    while (!exhausted && n < capacity) {
      val len =
        if (rank == 0) 1
        else math.min(p.cellHi(inner) - cur(inner), (capacity - n).toLong).toInt
      var off = 0L
      var i = 0
      while (i < rank) {
        off += (cur(i) - p.chunk(i) * chunkShape(i)) * strides(i)
        i += 1
      }
      var f = 0
      while (f < fills.length) { fills(f)(n, off.toInt, len); f += 1 }
      n += len
      exhausted = !advance(len)
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    batch.close()
    if (ownsCache) shardCache.close()
  }
}

object MdioColumnarReader {
  val BatchRows: Int = 4096
  /** TEST HOOK: per-variable chunk-file opens since JVM start (local mode
    * shares the JVM) — exchange-reuse pins prove a plan that references a
    * scan subtree twice still READS each chunk once. */
  private[graft] val chunkReads = new java.util.concurrent.atomic.AtomicLong

  /** Fills rows `[n, n + len)` of one column from the chunk's cells
    * `[off, off + len)`. */
  private trait RunFill { def apply(n: Int, off: Int, len: Int): Unit }

  /** The run fill of one value column over a chunk's decompressed bytes
    * (`raw`, null when the chunk is absent). */
  private def valueFill(vec: WritableColumnVector, dt: DataType, m: ZarrMeta.ArrayMeta,
                        raw: Array[Byte]): RunFill = {
    val floatKind = m.dtype.charAt(m.dtype.length - 2) == 'f'
    m.fields match {
      case Some(fs) =>
        val sdt = dt.asInstanceOf[StructType]
        val decoded = if (raw == null) null else ChunkCodec.decodeFields(raw, fs)
        struct(fs.indices.map { k =>
          val (child, cdt) = (vec.getChild(k), sdt.fields(k).dataType)
          if (decoded == null) cdt match { // reference struct fill = zero bytes
            case FloatType | DoubleType => constDouble(child, cdt, 0.0)
            case _ => constLong(child, cdt, 0L)
          } else decoded(k) match {
            case d: Array[Double] => doubles(child, cdt, d, 1, 0)
            case l: Array[Long] => longs(child, cdt, l)
          }
        })
      case None if MdioPartitionReader.isComplex(m.dtype) =>
        val edt = dt.asInstanceOf[StructType].fields(0).dataType
        val d = if (raw == null) null else ChunkCodec.decodeComplex(raw, m.dtype) // (re, im) pairs
        struct(Seq(0, 1).map { k =>
          if (d == null) constDouble(vec.getChild(k), edt, m.fillDouble)
          else doubles(vec.getChild(k), edt, d, 2, k)
        })
      case None if raw == null =>
        if (floatKind) constDouble(vec, dt, m.fillDouble) else constLong(vec, dt, m.fillLong)
      case None => (m.dtype.takeRight(2), dt) match {
        case ("f4", FloatType) => (n, off, len) => vec.putFloatsLittleEndian(n, len, raw, off * 4)
        case ("f8", DoubleType) => (n, off, len) => vec.putDoublesLittleEndian(n, len, raw, off * 8)
        case ("i4", IntegerType) => (n, off, len) => vec.putIntsLittleEndian(n, len, raw, off * 4)
        case ("i8", LongType) => (n, off, len) => vec.putLongsLittleEndian(n, len, raw, off * 8)
        case _ if floatKind => doubles(vec, dt, ChunkCodec.decodeDoubles(raw, m.dtype), 1, 0)
        case _ => longs(vec, dt, ChunkCodec.decodeLongs(raw, m.dtype))
      }
    }
  }

  private def struct(children: Seq[RunFill]): RunFill = {
    val cs = children.toArray
    (n, off, len) => { var k = 0; while (k < cs.length) { cs(k)(n, off, len); k += 1 } }
  }

  /** Cells `base + i * stride` of decoded doubles (stride 2 walks one
    * component of interleaved complex values). */
  private def doubles(vec: WritableColumnVector, dt: DataType, src: Array[Double],
                      stride: Int, base: Int): RunFill = dt match {
    case FloatType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putFloat(n + i, src(base + (off + i) * stride).toFloat); i += 1 }
    case DoubleType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putDouble(n + i, src(base + (off + i) * stride)); i += 1 }
    case _ => throw new IllegalStateException(s"columnar path does not cover $dt")
  }

  /** Cells of decoded longs: integral and bool dtypes, u64 as two's
    * complement widened to Decimal(20,0). */
  private def longs(vec: WritableColumnVector, dt: DataType, src: Array[Long]): RunFill = dt match {
    case LongType => (n, off, len) => vec.putLongs(n, len, src, off)
    case IntegerType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putInt(n + i, src(off + i).toInt); i += 1 }
    case ShortType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putShort(n + i, src(off + i).toShort); i += 1 }
    case ByteType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putByte(n + i, src(off + i).toByte); i += 1 }
    case BooleanType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putBoolean(n + i, src(off + i) != 0L); i += 1 }
    case _: DecimalType => (n, off, len) =>
      var i = 0
      while (i < len) { vec.putDecimal(n + i, u64(src(off + i)), 20); i += 1 }
    case _ => throw new IllegalStateException(s"columnar path does not cover $dt")
  }

  private def constDouble(vec: WritableColumnVector, dt: DataType, v: Double): RunFill = dt match {
    case FloatType => (n, _, len) => vec.putFloats(n, len, v.toFloat)
    case DoubleType => (n, _, len) => vec.putDoubles(n, len, v)
    case _ => throw new IllegalStateException(s"columnar path does not cover $dt")
  }

  private def constLong(vec: WritableColumnVector, dt: DataType, v: Long): RunFill = dt match {
    case LongType => (n, _, len) => vec.putLongs(n, len, v)
    case IntegerType => (n, _, len) => vec.putInts(n, len, v.toInt)
    case ShortType => (n, _, len) => vec.putShorts(n, len, v.toShort)
    case ByteType => (n, _, len) => vec.putBytes(n, len, v.toByte)
    case BooleanType => (n, _, len) => vec.putBooleans(n, len, v != 0L)
    case _: DecimalType =>
      val dec = u64(v)
      (n, _, len) => { var i = 0; while (i < len) { vec.putDecimal(n + i, dec, 20); i += 1 } }
    case _ => throw new IllegalStateException(s"columnar path does not cover $dt")
  }

  /** u64 two's complement unwrapped to [0, 2^64) as a Decimal(20,0). */
  private def u64(v: Long): Decimal =
    if (v >= 0) Decimal(v, 20, 0)
    else Decimal(BigDecimal(v) + BigDecimal("18446744073709551616"), 20, 0)
}
