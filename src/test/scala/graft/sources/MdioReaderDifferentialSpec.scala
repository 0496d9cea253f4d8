package graft.sources

import graft.SparkSpec
import graft.zarr.{ChunkCodec, ZarrMeta}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The columnar reader against cells decoded by [[ChunkCodec]] directly.
  * Chunks hold seeded random bytes and are written without the connector;
  * each read's rows are compared, cell by cell, with the chunk decoded
  * here (or with the variable's `fill_value` where the chunk is absent).
  *
  * Geometry: a 6×40×100 cube in 4×32×48 chunks, so every dim has a ragged
  * edge chunk and chunk (0, 1, 1) is missing. A chunk holds 6144 cells,
  * more than one 4096-row batch, and 48-cell inner runs do not divide
  * 4096, so a full scan has runs straddling the batch boundary. */
class MdioReaderDifferentialSpec extends SparkSpec {
  import ZarrMeta.ArrayMeta

  private val dims = Seq("inline", "crossline", "depth")
  private val shape = Seq(6L, 40L, 100L)
  private val chunks = Seq(4L, 32L, 48L)
  private val missing = Seq(0L, 1L, 1L)
  private val grid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
  private val chunkCells = chunks.product.toInt

  // every MdioSpec dtype (bool, int8–64, uint8–64, float16/32/64,
  // complex64/128) plus one record dtype
  private val v2Dtypes = Seq("|b1", "|i1", "<i2", "<i4", "<i8", "|u1", "<u2", "<u4", "<u8",
    "<f2", "<f4", "<f8", "<c8", "<c16")
  private val recordFields = Seq("a" -> "<i4", "b" -> "<f8", "c" -> "|u1", "d" -> "<f2")
  // zarr v3 data_type names exist for these
  private val v3Dtypes = Seq("|b1", "|i1", "<i2", "<i4", "<i8", "|u1", "<u2", "<u4", "<u8",
    "<f4", "<f8")

  private def kind(dtype: String): Char = dtype.charAt(1)

  /** fill_value per dtype; a uint64 fill is the type max. */
  private def fillOf(dtype: String): Option[Double] = kind(dtype) match {
    case 'V' => None
    case 'b' => Some(1.0)
    case 'u' if dtype.endsWith("8") => Some(1.8446744073709552E19)
    case 'i' | 'u' => Some(3.0)
    case _ => Some(-2.5)
  }

  private final case class Store(dir: String, metas: Map[String, ArrayMeta],
                                 raws: Map[(String, Seq[Long]), Array[Byte]])

  private def build(v3: Boolean): Store = {
    val dir = Files.createTempDirectory("mdio_diff").resolve("d.mdio").toString
    val root = ZarrMeta.path(dir)
    ZarrMeta.writeGroup(root, None, if (v3) 3 else 2)
    val rnd = new java.util.Random(if (v3) 7L else 5L)
    val vars: Seq[(String, ArrayMeta)] =
      if (v3) v3Dtypes.map { dt =>
        s"v_${dt.drop(1)}" -> ArrayMeta(shape, chunks, dt, Some("blosc"), fillOf(dt), version = 3,
          dimNames = Some(dims), blosc = Some(ChunkCodec.Blosc()), shard = Some(Seq(4L, 64L, 96L)))
      } else v2Dtypes.map { dt =>
        s"v_${dt.drop(1)}" -> ArrayMeta(shape, chunks, dt, Some("zstd"), fillOf(dt))
      } :+ ("v_rec" -> ArrayMeta(shape, chunks, "|V15", Some("zstd"), None,
        fields = Some(recordFields)))
    val coords = for (a <- 0L until grid(0); b <- 0L until grid(1); c <- 0L until grid(2))
      yield Seq(a, b, c)
    val raws = for ((name, m) <- vars; cc <- coords if cc != missing) yield {
      val raw = new Array[Byte](chunkCells * m.elemSize)
      rnd.nextBytes(raw)
      (name, cc) -> raw
    }
    val rawMap = raws.toMap
    def encoded(name: String, m: ArrayMeta, cc: Seq[Long]): Array[Byte] =
      rawMap.get((name, cc)).map(ChunkCodec.compress(_, m.compressor, m.elemSize, m.blosc)).orNull
    vars.foreach { case (name, m) =>
      val attrs = if (v3) None else Some(s"""{"_ARRAY_DIMENSIONS": ["${dims.mkString("\", \"")}"]}""")
      ZarrMeta.writeArray(root, name, m, attrs)
      val arrayDir = root.resolve(name)
      if (!v3) coords.filter(_ != missing).foreach { cc =>
        m.chunkFile(arrayDir, cc).write(encoded(name, m, cc))
      } else {
        // one shard object per shard: inner chunks in C order, absent
        // ones (the missing chunk, and any past the grid) as sentinels
        val ips = m.innerPerShard
        val shards = for (a <- 0L until m.shardGrid(0); b <- 0L until m.shardGrid(1);
                          c <- 0L until m.shardGrid(2)) yield Seq(a, b, c)
        shards.foreach { sc =>
          val inner = for (a <- 0L until ips(0); b <- 0L until ips(1); c <- 0L until ips(2))
            yield Seq(sc(0) * ips(0) + a, sc(1) * ips(1) + b, sc(2) * ips(2) + c)
          val parts = inner.map(cc => if (rawMap.contains((name, cc))) encoded(name, m, cc) else null)
          m.chunkFile(arrayDir, inner.head).write(ZarrMeta.buildShard(parts.toArray))
        }
      }
    }
    if (!v3) ZarrMeta.consolidate(root)
    Store(dir, vars.toMap, rawMap)
  }

  private val built = scala.collection.mutable.ArrayBuffer[String]()
  private lazy val v2 = { val s = build(v3 = false); built += s.dir; s }
  private lazy val v3 = { val s = build(v3 = true); built += s.dir; s }
  override def afterAll(): Unit = built.foreach(MdioWriter.delete)

  /** A chunk decoded by ChunkCodec: Array[Double] (float), Array[Long]
    * (integral, bool), interleaved (re, im) doubles (complex) or one array
    * per field (record). An absent chunk decodes as its fill. */
  private def decoded(m: ArrayMeta, raw: Array[Byte]): AnyRef = (m.fields, raw) match {
    case (Some(fs), null) => ChunkCodec.decodeFields(new Array[Byte](chunkCells * m.elemSize), fs)
    case (Some(fs), r) => ChunkCodec.decodeFields(r, fs)
    case (None, null) => kind(m.dtype) match {
      case 'c' => Array.fill(2 * chunkCells)(m.fillValue.get)
      case 'f' => Array.fill(chunkCells)(m.fillValue.get)
      case 'u' if m.dtype.endsWith("8") => Array.fill(chunkCells)(-1L)
      case _ => Array.fill(chunkCells)(m.fillValue.get.toLong)
    }
    case (None, r) => kind(m.dtype) match {
      case 'c' => ChunkCodec.decodeComplex(r, m.dtype)
      case 'f' => ChunkCodec.decodeDoubles(r, m.dtype)
      case _ => ChunkCodec.decodeLongs(r, m.dtype)
    }
  }

  private def scalar(dtype: String, dec: AnyRef, i: Int): String = dec match {
    case d: Array[Double] =>
      if (ChunkCodec.elemSize(dtype) <= 4) d(i).toFloat.toString else d(i).toString
    case l: Array[Long] => kind(dtype) match {
      case 'b' => (l(i) != 0L).toString
      case 'u' if dtype.endsWith("8") => java.lang.Long.toUnsignedString(l(i))
      case _ => l(i).toString
    }
  }

  private def cell(m: ArrayMeta, dec: AnyRef, off: Int): String = m.fields match {
    case Some(fs) =>
      val per = dec.asInstanceOf[Array[AnyRef]]
      fs.indices.map(k => scalar(fs(k)._2, per(k), off)).mkString("{", ",", "}")
    case None if kind(m.dtype) == 'c' =>
      val half = if (m.dtype.endsWith("16")) "<f8" else "<f4"
      Seq(2 * off, 2 * off + 1).map(scalar(half, dec, _)).mkString("{", ",", "}")
    case None => scalar(m.dtype, dec, off)
  }

  /** A read value rendered like [[cell]]. */
  private def norm(v: Any): String = v match {
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case d: java.math.BigDecimal => d.toPlainString
    case x => String.valueOf(x)
  }

  /** Read with `pred` over the dims and check every returned cell of every
    * variable, and that exactly the cells `want` accepts came back. */
  private def check(s: Store, pred: Option[Column], want: Seq[Long] => Boolean): Unit = {
    val df0 = spark.read.format("mdio").load(s.dir)
    val rows = pred.fold(df0)(p => df0.filter(p)).collect()
    val decodedCache = scala.collection.mutable.Map[(String, Seq[Long]), AnyRef]()
    val seen = rows.map { r =>
      val g = dims.map(d => r.getAs[Long](d))
      val cc = g.zip(chunks).map { case (x, c) => x / c }
      var off = 0L
      g.indices.foreach(i => off = off * chunks(i) + g(i) % chunks(i))
      s.metas.foreach { case (name, m) =>
        val dec = decodedCache.getOrElseUpdate((name, cc), decoded(m, s.raws.getOrElse((name, cc), null)))
        val want = cell(m, dec, off.toInt)
        val got = norm(r.getAs[Any](name))
        assert(got == want, s"$name at ${g.mkString("(", ",", ")")}: read $got, chunk holds $want")
      }
      g
    }
    val expected = for (a <- 0L until shape(0); b <- 0L until shape(1); c <- 0L until shape(2)
                        if want(Seq(a, b, c))) yield Seq(a, b, c)
    assert(seen.length == expected.size && seen.toSet == expected.toSet,
      s"read ${seen.length} cells, wanted ${expected.size}")
  }

  private val reads: Seq[(String, Option[Column], Seq[Long] => Boolean)] = Seq(
    ("full scan (runs straddle the 4096-row batch boundary)", None, _ => true),
    ("inline section", Some(col("inline") === 3), g => g(0) == 3),
    ("depth slice (runs of length 1)", Some(col("depth") === 50), g => g(2) == 50),
    ("sub-box clipping the inner extent",
      Some(col("inline").between(1, 4) && col("crossline").between(5, 35) &&
        col("depth").between(10, 70)),
      g => g(0) >= 1 && g(0) <= 4 && g(1) >= 5 && g(1) <= 35 && g(2) >= 10 && g(2) <= 70))

  test("geometry: chunks exceed one batch and inner runs straddle its boundary") {
    assert(chunkCells > MdioColumnarReader.BatchRows)
    assert(MdioColumnarReader.BatchRows % chunks.last != 0)
    assert(shape.zip(chunks).forall { case (s, c) => s % c != 0 }, "every dim has a ragged edge")
  }

  for ((name, pred, want) <- reads) {
    test(s"v2 zstd, every dtype + record: $name") { check(v2, pred, want) }
    test(s"v3 sharded blosc: $name") { check(v3, pred, want) }
  }
}
