package graft.zarr

import com.github.luben.zstd.Zstd
import net.jpountz.lz4.LZ4Factory
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, GZIPInputStream, Inflater}

/** Zarr v2 chunk encode/decode: C-order little-endian element buffers with
  * a numcodecs compressor envelope.
  *
  * Pure-JVM codecs only (the container has no native blosc):
  *  - `null` — raw buffer;
  *  - `zlib` — java.util.zip (numcodecs "zlib");
  *  - `zstd` — zstd-jni, ships with Spark (numcodecs "zstd" = raw frame);
  *  - `lz4`  — lz4-java (numcodecs "lz4" = 4-byte LE original size + block);
  *  - `blosc` — full encode/decode (blosc1 frame: 16-byte header +
  *    optional block-start table; backends lz4/lz4hc/zstd/zlib plus
  *    pure-JVM blosclz and snappy — the reference's whole BloscCname enum
  *    (mdio/dataset_schema.h:145-152) — with byte-shuffle). The reference's
  *    spec layer accepts ONLY blosc and honors cname/clevel/shuffle
  *    (mdio/dataset_factory.h:288-367); [[Blosc]] carries those settings
  *    through the write path.
  *
  * Writes hand values in as JVM doubles/longs ([[encodeDoubles]],
  * [[encodeLongs]]). Reads hand the connector the decompressed
  * little-endian bytes: it copies them straight into column vectors where
  * the Spark type has the stored width, and widens the rest through the
  * typed decoders below. Both directions keep unsigned widening consistent
  * (SURVEY §1.2).
  */
object ChunkCodec {

  /** Blosc compressor settings, the reference's resolved defaults
    * (mdio/dataset_factory.h:237-276: cname lz4, clevel 5, shuffle on,
    * automatic blocksize). shuffle: 0 none, 1 byte-shuffle, 2 bit-shuffle
    * (pure-JVM bitshuffle, [[bitshuffleInPlace]]). */
  final case class Blosc(cname: String = "lz4", clevel: Int = 5, shuffle: Int = 1)

  def elemSize(dtype: String): Int = {
    if (kind(dtype) == 'c') return if (dtype.endsWith("16")) 16 else 8
    dtype.last match {
      case '1' => 1
      case '2' => 2
      case '4' => 4
      case '8' => 8
      case _ => throw new IllegalArgumentException(s"bad dtype '$dtype'")
    }
  }

  private def kind(dtype: String): Char = {
    // strip byte-order prefix: "<f4" -> 'f', "|b1" -> 'b'; "<c16" -> 'c'
    require(dtype.length >= 2, s"bad dtype '$dtype'")
    require(!dtype.startsWith(">"), s"big-endian dtype '$dtype' not supported")
    if (dtype.length >= 3 && dtype.charAt(dtype.length - 3) == 'c') 'c'
    else dtype.charAt(dtype.length - 2)
  }

  // ---- typed decode to doubles (for f/u) or longs (for i/b) ----------------

  /** Decode a raw (decompressed) chunk buffer into per-element doubles.
    * Lossless for every supported dtype except int64/uint64 above 2^53 —
    * use [[decodeLongs]] for those. */
  def decodeDoubles(raw: Array[Byte], dtype: String): Array[Double] = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val n = raw.length / elemSize(dtype)
    val out = new Array[Double](n)
    var i = 0
    (kind(dtype), elemSize(dtype)) match {
      case ('f', 2) => while (i < n) { out(i) = halfToFloat(bb.getShort(i * 2)).toDouble; i += 1 }
      case ('f', 4) => while (i < n) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
      case ('f', 8) => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case ('i', 1) => while (i < n) { out(i) = bb.get(i).toDouble; i += 1 }
      case ('i', 2) => while (i < n) { out(i) = bb.getShort(i * 2).toDouble; i += 1 }
      case ('i', 4) => while (i < n) { out(i) = bb.getInt(i * 4).toDouble; i += 1 }
      case ('i', 8) => while (i < n) { out(i) = bb.getLong(i * 8).toDouble; i += 1 }
      case ('u', 1) => while (i < n) { out(i) = (bb.get(i) & 0xff).toDouble; i += 1 }
      case ('u', 2) => while (i < n) { out(i) = (bb.getShort(i * 2) & 0xffff).toDouble; i += 1 }
      case ('u', 4) => while (i < n) { out(i) = (bb.getInt(i * 4) & 0xffffffffL).toDouble; i += 1 }
      case ('u', 8) => while (i < n) {
        val v = bb.getLong(i * 8)
        out(i) = if (v >= 0) v.toDouble else v.toDouble + 1.8446744073709552E19
        i += 1
      }
      case ('b', 1) => while (i < n) { out(i) = if (raw(i) != 0) 1.0 else 0.0; i += 1 }
      case other => throw new IllegalArgumentException(s"unsupported dtype '$dtype'")
    }
    out
  }

  /** Decode complex chunks into interleaved (re, im) doubles — 2n values
    * for n elements. */
  def decodeComplex(raw: Array[Byte], dtype: String): Array[Double] = {
    require(kind(dtype) == 'c', s"'$dtype' is not complex")
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val half = elemSize(dtype) / 2
    val n2 = raw.length / half
    val out = new Array[Double](n2)
    var i = 0
    if (half == 4) while (i < n2) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
    else while (i < n2) { out(i) = bb.getDouble(i * 8); i += 1 }
    out
  }

  /** Encode interleaved (re, im) doubles as a complex chunk. */
  def encodeComplex(values: Array[Double], dtype: String): Array[Byte] = {
    require(kind(dtype) == 'c', s"'$dtype' is not complex")
    val half = elemSize(dtype) / 2
    val raw = new Array[Byte](values.length * half)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    if (half == 4) while (i < values.length) { bb.putFloat(i * 4, values(i).toFloat); i += 1 }
    else while (i < values.length) { bb.putDouble(i * 8, values(i)); i += 1 }
    raw
  }

  /** Encode longs losslessly into an integral little-endian buffer — the
    * write path for signed/unsigned ints and bool (a double round-trip
    * would corrupt int64 and uint64 above 2^53). */
  def encodeLongs(values: Array[Long], dtype: String): Array[Byte] = {
    val es = elemSize(dtype)
    val raw = new Array[Byte](values.length * es)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    (kind(dtype), es) match {
      case ('i' | 'u', 1) => while (i < values.length) { bb.put(i, values(i).toByte); i += 1 }
      case ('i' | 'u', 2) => while (i < values.length) { bb.putShort(i * 2, values(i).toShort); i += 1 }
      case ('i' | 'u', 4) => while (i < values.length) { bb.putInt(i * 4, values(i).toInt); i += 1 }
      case ('i' | 'u', 8) => while (i < values.length) { bb.putLong(i * 8, values(i)); i += 1 }
      case ('b', 1) => while (i < values.length) { raw(i) = if (values(i) != 0L) 1 else 0; i += 1 }
      case _ => throw new IllegalArgumentException(s"dtype '$dtype' is not integral")
    }
    raw
  }

  /** Decode integer dtypes losslessly into longs (u8/u16/u32 widened,
    * u64 wrapped two's-complement — connector widens to decimal). */
  def decodeLongs(raw: Array[Byte], dtype: String): Array[Long] = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val n = raw.length / elemSize(dtype)
    val out = new Array[Long](n)
    var i = 0
    (kind(dtype), elemSize(dtype)) match {
      case ('i', 1) => while (i < n) { out(i) = bb.get(i).toLong; i += 1 }
      case ('i', 2) => while (i < n) { out(i) = bb.getShort(i * 2).toLong; i += 1 }
      case ('i', 4) => while (i < n) { out(i) = bb.getInt(i * 4).toLong; i += 1 }
      case ('i', 8) => while (i < n) { out(i) = bb.getLong(i * 8); i += 1 }
      case ('u', 1) => while (i < n) { out(i) = (bb.get(i) & 0xff).toLong; i += 1 }
      case ('u', 2) => while (i < n) { out(i) = (bb.getShort(i * 2) & 0xffff).toLong; i += 1 }
      case ('u', 4) => while (i < n) { out(i) = bb.getInt(i * 4) & 0xffffffffL; i += 1 }
      case ('u', 8) => while (i < n) { out(i) = bb.getLong(i * 8); i += 1 }
      case ('b', 1) => while (i < n) { out(i) = if (raw(i) != 0) 1L else 0L; i += 1 }
      case _ => throw new IllegalArgumentException(s"dtype '$dtype' is not integral")
    }
    out
  }

  /** Encode doubles into a raw little-endian buffer of the given dtype. */
  def encodeDoubles(values: Array[Double], dtype: String): Array[Byte] = {
    val es = elemSize(dtype)
    val raw = new Array[Byte](values.length * es)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    (kind(dtype), es) match {
      case ('f', 2) => while (i < values.length) { bb.putShort(i * 2, floatToHalf(values(i).toFloat)); i += 1 }
      case ('f', 4) => while (i < values.length) { bb.putFloat(i * 4, values(i).toFloat); i += 1 }
      case ('f', 8) => while (i < values.length) { bb.putDouble(i * 8, values(i)); i += 1 }
      case ('i', 1) => while (i < values.length) { bb.put(i, values(i).toByte); i += 1 }
      case ('i', 2) => while (i < values.length) { bb.putShort(i * 2, values(i).toShort); i += 1 }
      case ('i', 4) => while (i < values.length) { bb.putInt(i * 4, values(i).toInt); i += 1 }
      case ('i', 8) => while (i < values.length) { bb.putLong(i * 8, values(i).toLong); i += 1 }
      case ('u', 1) => while (i < values.length) { bb.put(i, (values(i).toLong & 0xff).toByte); i += 1 }
      case ('u', 2) => while (i < values.length) { bb.putShort(i * 2, (values(i).toLong & 0xffff).toShort); i += 1 }
      case ('u', 4) => while (i < values.length) { bb.putInt(i * 4, (values(i).toLong & 0xffffffffL).toInt); i += 1 }
      case ('u', 8) => while (i < values.length) { bb.putLong(i * 8, values(i).toLong); i += 1 }
      case ('b', 1) => while (i < values.length) { raw(i) = if (values(i) != 0.0) 1 else 0; i += 1 }
      case _ => throw new IllegalArgumentException(s"unsupported dtype '$dtype'")
    }
    raw
  }

  // ---- structured (record) dtypes -----------------------------------------

  /** Decode a record-dtype chunk into per-field arrays: each field comes
    * back as Array[Double] ('f' kinds) or Array[Long] (integral kinds),
    * extracted by striding over the packed little-endian records
    * (reference "void" arrays, mdio/zarr/zarr_v2.h:109-120). */
  def decodeFields(raw: Array[Byte], fields: Seq[(String, String)]): Array[AnyRef] = {
    val recSize = fields.map(f => elemSize(f._2)).sum
    val n = raw.length / recSize
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    var offset = 0
    fields.map { case (_, ft) =>
      val es = elemSize(ft)
      val base = offset
      offset += es
      val out: AnyRef =
        if (kind(ft) == 'f') {
          val a = new Array[Double](n)
          var i = 0
          es match {
            case 2 => while (i < n) { a(i) = halfToFloat(bb.getShort(i * recSize + base)).toDouble; i += 1 }
            case 4 => while (i < n) { a(i) = bb.getFloat(i * recSize + base).toDouble; i += 1 }
            case _ => while (i < n) { a(i) = bb.getDouble(i * recSize + base); i += 1 }
          }
          a
        } else {
          val a = new Array[Long](n)
          var i = 0
          (kind(ft), es) match {
            case ('i', 1) => while (i < n) { a(i) = bb.get(i * recSize + base).toLong; i += 1 }
            case ('i', 2) => while (i < n) { a(i) = bb.getShort(i * recSize + base).toLong; i += 1 }
            case ('i', 4) => while (i < n) { a(i) = bb.getInt(i * recSize + base).toLong; i += 1 }
            case ('i', 8) => while (i < n) { a(i) = bb.getLong(i * recSize + base); i += 1 }
            case ('u', 1) => while (i < n) { a(i) = (bb.get(i * recSize + base) & 0xff).toLong; i += 1 }
            case ('u', 2) => while (i < n) { a(i) = (bb.getShort(i * recSize + base) & 0xffff).toLong; i += 1 }
            case ('u', 4) => while (i < n) { a(i) = bb.getInt(i * recSize + base) & 0xffffffffL; i += 1 }
            case ('b', 1) => while (i < n) { a(i) = if (raw(i * recSize + base) != 0) 1L else 0L; i += 1 }
            case other => throw new IllegalArgumentException(s"record field dtype '$ft' unsupported")
          }
          a
        }
      out
    }.toArray
  }

  // ---- float16 (IEEE 754 binary16 — Spark/JVM have no half type, widen
  // to float per SURVEY §1.2; JDK 21's Float.float16ToFloat is unavailable
  // on JDK 17, so the bit conversion is spelled out) ------------------------

  def halfToFloat(h: Short): Float = {
    val bits = h & 0xffff
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    val f =
      if (exp == 0) {
        if (mant == 0) sign
        else { // subnormal: normalize
          var m = mant; var e = -1
          while ((m & 0x400) == 0) { m <<= 1; e += 1 }
          sign | ((127 - 15 - e) << 23) | ((m & 0x3ff) << 13)
        }
      } else if (exp == 0x1f) sign | 0x7f800000 | (mant << 13) // inf/nan
      else sign | ((exp - 15 + 127) << 23) | (mant << 13)
    java.lang.Float.intBitsToFloat(f)
  }

  def floatToHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = ((bits >>> 23) & 0xff) - 127 + 15
    val mant = bits & 0x7fffff
    val h =
      if (((bits >>> 23) & 0xff) == 0xff) sign | 0x7c00 | (if (mant != 0) 0x200 else 0) // inf/nan
      else if (exp >= 0x1f) sign | 0x7c00                        // overflow -> inf
      else if (exp <= 0) {
        if (exp < -10) sign                                      // underflow -> 0
        else sign | (((mant | 0x800000) >>> (1 - exp + 13)) & 0x3ff) // subnormal
      } else sign | (exp << 10) | (mant >>> 13)
    h.toShort
  }

  // ---- compressor envelope --------------------------------------------------

  def compress(raw: Array[Byte], codec: Option[String], typesize: Int = 1,
               blosc: Option[Blosc] = None): Array[Byte] = codec match {
    case None => raw
    case Some("zlib") =>
      val d = new Deflater()
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    case Some("zstd") => Zstd.compress(raw, 3)
    case Some("lz4") =>
      val c = LZ4Factory.fastestJavaInstance().fastCompressor()
      val comp = c.compress(raw)
      val out = ByteBuffer.allocate(4 + comp.length).order(ByteOrder.LITTLE_ENDIAN)
      out.putInt(raw.length).put(comp)
      out.array()
    case Some("blosc") => bloscEncode(raw, typesize, blosc.getOrElse(Blosc()))
    case Some(other) => throw new IllegalArgumentException(s"unsupported compressor '$other' for write")
  }

  /** Backend compress of one (possibly shuffled) block; returns the payload
    * and the blosc codec id. clevel maps per backend: zstd level = clevel,
    * Deflater level = clevel, lz4 switches to lz4hc above clevel 7 (both
    * decode as codec id 1, like c-blosc's lz4/lz4hc pair). */
  private def bloscBackend(block: Array[Byte], b: Blosc): (Array[Byte], Int) =
    b.cname match {
      case "lz4" | "lz4hc" =>
        val f = LZ4Factory.fastestJavaInstance()
        val c = if (b.cname == "lz4hc" || b.clevel >= 8) f.highCompressor() else f.fastCompressor()
        (c.compress(block), 1)
      case "zlib" =>
        val d = new Deflater(math.max(1, math.min(9, b.clevel)))
        d.setInput(block); d.finish()
        val out = new ByteArrayOutputStream(block.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        (out.toByteArray, 4)
      case "zstd" => (Zstd.compress(block, math.max(1, math.min(9, b.clevel))), 5)
      case "blosclz" => (blosclzCompress(block), 0)
      case "snappy" => (snappyCompress(block), 3)
      case other => throw new IllegalArgumentException(
        s"blosc cname '$other' unsupported for write (lz4/lz4hc/blosclz/snappy/zlib/zstd)")
    }

  /** Blosc1 single-block encode honoring cname + clevel + byte-shuffle
    * (the reference's spec-layer settings, mdio/dataset_factory.h:288-367):
    * 16-byte header, one block-start entry, then [int32 csize][payload].
    * Falls back to the memcpy frame of the ORIGINAL buffer when compression
    * does not reduce (decoders skip unshuffle on memcpy frames, matching
    * c-blosc). clevel 0 = store uncompressed. Symmetric with
    * [[bloscDecode]]. */
  private def bloscEncode(raw: Array[Byte], typesize: Int, b: Blosc): Array[Byte] = {
    require(raw.length > 0 && raw.length <= Int.MaxValue - 64, "blosc single-block size limit")
    val ts = math.max(1, typesize)
    val doShuffle = b.shuffle == 1 && ts > 1 && raw.length % ts == 0
    val doBitShuffle = b.shuffle == 2
    def memcpyFrame(): Array[Byte] = {
      val out = ByteBuffer.allocate(16 + raw.length).order(ByteOrder.LITTLE_ENDIAN)
      out.put(0, 2.toByte)                    // blosc format version
      out.put(1, 1.toByte)                    // codec format version
      out.put(2, 0x2.toByte)                  // flags: memcpy
      out.put(3, ts.toByte)
      out.putInt(4, raw.length)               // nbytes
      out.putInt(8, raw.length)               // blocksize
      out.putInt(12, 16 + raw.length)         // cbytes
      System.arraycopy(raw, 0, out.array(), 16, raw.length)
      out.array()
    }
    if (b.clevel <= 0) return memcpyFrame()
    val block =
      if (doShuffle) { val s = raw.clone(); shuffleInPlace(s, 0, s.length, ts); s }
      else if (doBitShuffle) { val s = raw.clone(); bitshuffleInPlace(s, 0, s.length, ts); s }
      else raw
    val (comp, codecId) = bloscBackend(block, b)
    if (comp.length + 8 >= raw.length) memcpyFrame()
    else {
      val total = 16 + 4 + 4 + comp.length    // header + bstart + csize + payload
      val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
      out.put(0, 2.toByte)
      out.put(1, 1.toByte)
      val flags = (codecId << 5) |
        (if (doShuffle) 0x1 else 0x0) | (if (doBitShuffle) 0x4 else 0x0)
      out.put(2, flags.toByte)
      out.put(3, ts.toByte)
      out.putInt(4, raw.length)
      out.putInt(8, raw.length)               // single block
      out.putInt(12, total)
      out.putInt(16, 20)                      // bstart[0] -> right after the table
      out.putInt(20, comp.length)             // per-block csize
      System.arraycopy(comp, 0, out.array(), 24, comp.length)
      out.array()
    }
  }

  def decompress(data: Array[Byte], codec: Option[String], rawSize: Int): Array[Byte] = codec match {
    case None => data
    case Some("zlib") =>
      val inf = new Inflater()
      inf.setInput(data)
      val out = new Array[Byte](rawSize)
      var off = 0
      while (off < rawSize && !inf.finished()) off += inf.inflate(out, off, rawSize - off)
      inf.end()
      require(off == rawSize, s"zlib chunk decoded $off of $rawSize bytes")
      out
    case Some("gzip") =>
      // RFC-1952 gzip frames — what zarr-python's v3 gzip codec and
      // numcodecs "gzip" write. A raw-zlib Inflater rejects these.
      val in = new GZIPInputStream(new ByteArrayInputStream(data))
      val out = new Array[Byte](rawSize)
      var off = 0
      var n = 0
      while (off < rawSize && n >= 0) {
        n = in.read(out, off, rawSize - off)
        if (n > 0) off += n
      }
      in.close()
      require(off == rawSize, s"gzip chunk decoded $off of $rawSize bytes")
      out
    case Some("zstd") => Zstd.decompress(data, rawSize)
    case Some("lz4") =>
      val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      val n = bb.getInt(0)
      require(n == rawSize, s"lz4 header size $n != expected $rawSize")
      val out = new Array[Byte](n)
      LZ4Factory.fastestJavaInstance().fastDecompressor()
        .decompress(data, 4, out, 0, n)
      out
    case Some("blosc") => bloscDecode(data, rawSize)
    case Some(other) => throw new IllegalArgumentException(s"unsupported compressor '$other'")
  }

  /** Blosc1 frame decode (read-only interop; format is public and stable):
    * header[0]=version, [1]=codec version, [2]=flags (bit0 byte-shuffle,
    * bit1 pure-memcpy, bits5-7 codec id), [3]=typesize, [4-8) nbytes,
    * [8-12) blocksize, [12-16) cbytes, then per-block int32 compressed
    * starts unless memcpy. Codec ids: 0 blosclz, 1 lz4/lz4hc, 3 snappy,
    * 4 zlib, 5 zstd — the reference's full BloscCname matrix
    * (mdio/dataset_schema.h:145-152). */
  private def bloscDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val flags = data(2) & 0xff
    val typesize = data(3) & 0xff
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    require(nbytes == expected, s"blosc nbytes $nbytes != expected $expected")
    val shuffled = (flags & 0x1) != 0
    val bitShuffled = (flags & 0x4) != 0
    val memcpyed = (flags & 0x2) != 0
    val codecId = (flags >> 5) & 0x7

    val out = new Array[Byte](nbytes)
    if (memcpyed) {
      // blosc memcpys the ORIGINAL buffer when compression doesn't pay,
      // so no unshuffle applies here.
      System.arraycopy(data, 16, out, 0, nbytes)
    } else {
      val nblocks = (nbytes + blocksize - 1) / blocksize
      var b = 0
      while (b < nblocks) {
        val bstart = bb.getInt(16 + 4 * b)
        val outOff = b * blocksize
        val thisBlock = math.min(blocksize, nbytes - outOff)
        val csize = bb.getInt(bstart) // per-block: int32 compressed size then payload
        if (csize == thisBlock) {     // stored uncompressed
          System.arraycopy(data, bstart + 4, out, outOff, thisBlock)
        } else codecId match {
          case 0 =>
            blosclzDecompress(data, bstart + 4, csize, out, outOff, thisBlock)
          case 1 =>
            LZ4Factory.fastestJavaInstance().fastDecompressor()
              .decompress(data, bstart + 4, out, outOff, thisBlock)
          case 3 =>
            snappyDecompress(data, bstart + 4, csize, out, outOff, thisBlock)
          case 5 =>
            val dec = Zstd.decompress(java.util.Arrays.copyOfRange(data, bstart + 4, bstart + 4 + csize), thisBlock)
            System.arraycopy(dec, 0, out, outOff, thisBlock)
          case 4 =>
            val inf = new Inflater()
            inf.setInput(data, bstart + 4, csize)
            var off = 0
            while (off < thisBlock && !inf.finished()) off += inf.inflate(out, outOff + off, thisBlock - off)
            inf.end()
          case other => throw new IllegalArgumentException(s"blosc codec id $other not supported")
        }
        // shuffle is applied PER BLOCK in blosc — undo it per block.
        if (shuffled && typesize > 1 && thisBlock % typesize == 0)
          unshuffleInPlace(out, outOff, thisBlock, typesize)
        else if (bitShuffled)
          bitunshuffleInPlace(out, outOff, thisBlock, typesize)
        b += 1
      }
    }
    out
  }

  // ---- blosclz (FastLZ-derived LZ77, libblosc's default cname) -------------
  // Public format, written against c-blosc blosc/blosclz.c: a stream of
  // instruction bytes. The first byte's low 5 bits start a literal run
  // (high 3 bits reserved). ctrl < 32: literal run of ctrl+1 bytes.
  // ctrl >= 32: match of (ctrl>>5)+2 bytes — when ctrl>>5 == 7 the length
  // extends by 255-chained bytes — at back-distance ((ctrl&31)<<8 | next)+1;
  // the escape (high bits 31, low byte 255) switches to a 16-bit
  // big-endian far distance d16 with back-distance d16 + 8191.

  /** Decode one blosclz block into out[outOff, outOff+outLen). Loud on any
    * malformed stream: every read is bounds-checked, matches may not reach
    * before the block start, and the decoded size must be exact. */
  private[zarr] def blosclzDecompress(data: Array[Byte], off: Int, len: Int,
                                      out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    val MaxDist = 8191
    var ip = off
    val ipEnd = off + len
    var op = outOff
    val opEnd = outOff + outLen
    require(len > 0 && ipEnd <= data.length, "blosclz: empty or truncated block")
    var ctrl = data(ip) & 31; ip += 1
    var loop = true
    while (loop) {
      if (ctrl >= 32) {
        var mlen = (ctrl >> 5) - 1
        val ofsHigh = (ctrl & 31) << 8
        if (mlen == 6) { // length field 7: 255-chained extension bytes
          var code = 255
          while (code == 255) {
            require(ip < ipEnd, "blosclz: truncated match length")
            code = data(ip) & 0xff; ip += 1
            mlen += code
          }
        }
        require(ip < ipEnd, "blosclz: truncated match distance")
        val code = data(ip) & 0xff; ip += 1
        mlen += 3
        var ref = op - ofsHigh - code - 1
        if (code == 255 && ofsHigh == (31 << 8)) { // far-distance escape
          require(ip + 2 <= ipEnd, "blosclz: truncated far distance")
          val d16 = ((data(ip) & 0xff) << 8) | (data(ip + 1) & 0xff)
          ip += 2
          ref = op - d16 - MaxDist
        }
        require(op + mlen <= opEnd, "blosclz: match overruns output")
        require(ref >= outOff && ref < op, "blosclz: match distance out of range")
        var k = 0 // byte-wise: overlapping matches (RLE) must re-read output
        while (k < mlen) { out(op) = out(ref); op += 1; ref += 1; k += 1 }
      } else {
        val n = ctrl + 1
        require(ip + n <= ipEnd, "blosclz: truncated literal run")
        require(op + n <= opEnd, "blosclz: literal overruns output")
        System.arraycopy(data, ip, out, op, n)
        ip += n; op += n
      }
      if (ip < ipEnd) { ctrl = data(ip) & 0xff; ip += 1 } else loop = false
    }
    require(op == opEnd, s"blosclz: decoded ${op - outOff} of $outLen bytes")
  }

  /** Greedy blosclz encoder: 4-byte hash-table matcher emitting literal runs
    * (max 32) and near matches (back-distance <= 8191 — the escape-free
    * range, so encode never depends on the far branch). Output decodes with
    * [[blosclzDecompress]] and c-blosc alike. */
  private[graft] def blosclzCompress(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    val out = new ByteArrayOutputStream(n / 2 + 64)
    val HashBits = 14
    val table = new Array[Int](1 << HashBits) // value = position + 1 (0 = empty)
    def hash4(i: Int): Int = {
      val v = (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8) |
        ((src(i + 2) & 0xff) << 16) | ((src(i + 3) & 0xff) << 24)
      (v * -1640531535) >>> (32 - HashBits) // Knuth multiplicative
    }
    def emitLiterals(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val run = math.min(until - i, 32)
        out.write(run - 1)
        out.write(src, i, run)
        i += run
      }
    }
    def emitMatch(mlen: Int, dist: Int): Unit = { // mlen >= 3, 1 <= dist <= 8191
      val dcode = dist - 1
      val lenField = mlen - 2
      if (lenField < 7) out.write((lenField << 5) | (dcode >> 8))
      else {
        out.write((7 << 5) | (dcode >> 8))
        var rem = lenField - 7
        while (rem >= 255) { out.write(255); rem -= 255 }
        out.write(rem)
      }
      out.write(dcode & 0xff)
    }
    var anchor = 0
    var i = 0
    while (i + 4 <= n) {
      val h = hash4(i)
      val cand = table(h) - 1
      table(h) = i + 1
      val dist = i - cand
      if (cand >= 0 && dist >= 1 && dist <= 8191 &&
        src(cand) == src(i) && src(cand + 1) == src(i + 1) &&
        src(cand + 2) == src(i + 2) && src(cand + 3) == src(i + 3)) {
        var mlen = 4
        while (i + mlen < n && src(cand + mlen) == src(i + mlen)) mlen += 1
        emitLiterals(anchor, i)
        emitMatch(mlen, dist)
        i += mlen
        anchor = i
      } else i += 1
    }
    emitLiterals(anchor, n)
    out.toByteArray
  }

  // ---- snappy (raw block format) --------------------------------------------
  // Public format (google/snappy format_description.txt): a varint32
  // uncompressed length, then tagged elements — tag & 3 selects literal /
  // copy with 1-, 2-, or 4-byte little-endian offset. c-blosc's snappy
  // backend (codec id 3) stores exactly this stream per block.

  /** Decode one raw-snappy block into out[outOff, outOff+outLen); loud on
    * malformed streams (truncated varint/element, copy before block start,
    * size mismatch). */
  private[zarr] def snappyDecompress(data: Array[Byte], off: Int, len: Int,
                                     out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    var ip = off
    val ipEnd = off + len
    require(len > 0 && ipEnd <= data.length, "snappy: empty or truncated block")
    var size = 0L
    var shift = 0
    var more = true
    while (more) {
      require(ip < ipEnd && shift <= 28, "snappy: bad length varint")
      val b = data(ip) & 0xff; ip += 1
      size |= (b & 0x7fL) << shift; shift += 7
      more = (b & 0x80) != 0
    }
    require(size == outLen, s"snappy: declared size $size != expected $outLen")
    var op = outOff
    val opEnd = outOff + outLen
    while (ip < ipEnd) {
      val tag = data(ip) & 0xff; ip += 1
      if ((tag & 3) == 0) { // literal
        var nlit = (tag >> 2) + 1
        if (nlit > 60) {
          val extra = nlit - 60 // 1..4 little-endian bytes holding length-1
          require(ip + extra <= ipEnd, "snappy: truncated literal length")
          var v = 0L
          var k = 0
          while (k < extra) { v |= (data(ip + k) & 0xffL) << (8 * k); k += 1 }
          ip += extra
          require(v >= 0 && v < Int.MaxValue, "snappy: literal length overflow")
          nlit = v.toInt + 1
        }
        // Long arithmetic: a hostile 4-byte length near Int.MaxValue would
        // wrap ip + nlit (and op + nlit) negative and slip past both bounds
        require(ip.toLong + nlit <= ipEnd, "snappy: truncated literal")
        require(op.toLong + nlit <= opEnd, "snappy: literal overruns output")
        System.arraycopy(data, ip, out, op, nlit)
        ip += nlit; op += nlit
      } else { // copy
        var clen = 0
        var dist = 0
        (tag & 3) match {
          case 1 =>
            require(ip < ipEnd, "snappy: truncated copy1")
            clen = ((tag >> 2) & 0x7) + 4
            dist = ((tag >> 5) << 8) | (data(ip) & 0xff); ip += 1
          case 2 =>
            require(ip + 2 <= ipEnd, "snappy: truncated copy2")
            clen = (tag >> 2) + 1
            dist = (data(ip) & 0xff) | ((data(ip + 1) & 0xff) << 8); ip += 2
          case _ =>
            require(ip + 4 <= ipEnd, "snappy: truncated copy4")
            clen = (tag >> 2) + 1
            dist = (data(ip) & 0xff) | ((data(ip + 1) & 0xff) << 8) |
              ((data(ip + 2) & 0xff) << 16) | ((data(ip + 3) & 0xff) << 24)
            ip += 4
        }
        require(dist > 0 && dist <= op - outOff, "snappy: copy before block start")
        require(op + clen <= opEnd, "snappy: copy overruns output")
        var k = 0 // byte-wise: snappy copies may overlap (dist < len)
        while (k < clen) { out(op) = out(op - dist); op += 1; k += 1 }
      }
    }
    require(op == opEnd, s"snappy: decoded ${op - outOff} of $outLen bytes")
  }

  /** Greedy raw-snappy encoder: 4-byte hash matcher emitting 2-byte-offset
    * copies (<= 64 bytes each, chained for longer matches) and literal runs.
    * Output decodes with [[snappyDecompress]] and any snappy library. */
  private[graft] def snappyCompress(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    val out = new ByteArrayOutputStream(n / 2 + 64)
    var v = n
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    val HashBits = 14
    val table = new Array[Int](1 << HashBits)
    def hash4(i: Int): Int = {
      val w = (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8) |
        ((src(i + 2) & 0xff) << 16) | ((src(i + 3) & 0xff) << 24)
      (w * -1640531535) >>> (32 - HashBits)
    }
    def emitLiterals(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val run = math.min(until - i, 60) // one-byte tag form
        out.write((run - 1) << 2)
        out.write(src, i, run)
        i += run
      }
    }
    def emitCopies(mlen0: Int, dist: Int): Unit = { // dist <= 65535
      var mlen = mlen0
      while (mlen > 0) {
        // keep every element's length >= 4 so copy1-range decoders are happy
        val piece = if (mlen > 64) math.min(mlen - 4, 64) else mlen
        out.write(((piece - 1) << 2) | 2)
        out.write(dist & 0xff)
        out.write((dist >> 8) & 0xff)
        mlen -= piece
      }
    }
    var anchor = 0
    var i = 0
    while (i + 4 <= n) {
      val h = hash4(i)
      val cand = table(h) - 1
      table(h) = i + 1
      val dist = i - cand
      if (cand >= 0 && dist >= 1 && dist <= 65535 &&
        src(cand) == src(i) && src(cand + 1) == src(i + 1) &&
        src(cand + 2) == src(i + 2) && src(cand + 3) == src(i + 3)) {
        var mlen = 4
        while (i + mlen < n && src(cand + mlen) == src(i + mlen)) mlen += 1
        emitLiterals(anchor, i)
        emitCopies(mlen, dist)
        i += mlen
        anchor = i
      } else i += 1
    }
    emitLiterals(anchor, n)
    out.toByteArray
  }

  /** Blosc byte-shuffle inverse over one block: block layout is
    * [all byte-0s][all byte-1s]… per typesize-element; restore interleaving. */
  private def unshuffleInPlace(buf: Array[Byte], off: Int, len: Int, typesize: Int): Unit = {
    val n = len / typesize
    val tmp = new Array[Byte](len)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < n) {
        tmp(i * typesize + j) = buf(off + j * n + i)
        i += 1
      }
      j += 1
    }
    System.arraycopy(tmp, 0, buf, off, len)
  }

  /** Blosc byte-shuffle forward: gather byte j of every element into the
    * j-th plane — the transform compressors then exploit. */
  private def shuffleInPlace(buf: Array[Byte], off: Int, len: Int, typesize: Int): Unit = {
    val n = len / typesize
    val tmp = new Array[Byte](len)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < n) {
        tmp(j * n + i) = buf(off + i * typesize + j)
        i += 1
      }
      j += 1
    }
    System.arraycopy(tmp, 0, buf, off, len)
  }

  // ---- blosc bit-shuffle (flag 0x4) ---------------------------------------
  // The bitshuffle-library transform c-blosc applies per block
  // (bitshuffle-generic.c, three stages: byte-transpose within elements,
  // 8x8 bit transpose of each 8-byte group, then the bit-row regroup).
  // Net layout for n elements of `typesize` bytes, n a multiple of 8:
  //   out[(j*8 + b) * (n/8) + i/8]  bit (i % 8)  =  in[i*typesize + j]  bit b
  // — one bit-plane per (byte-of-element j, bit b), elements packed
  // LSB-first. c-blosc rounds n DOWN to a multiple of 8 and memcpys the
  // remaining tail bytes raw (shuffle.c `size -= size % 8`), which these
  // implementations mirror, so frames from any c-blosc writer decode
  // bit-exactly. The reference accepts the full shuffle enum including
  // BITSHUFFLE (mdio/dataset_schema.h:145-165, resolved via C blosc in
  // mdio/dataset_factory.h:288-367).

  /** 8x8 bit-matrix transpose of a 64-bit word (the bitshuffle library's
    * TRANS_BIT_8X8, Hacker's Delight 7-2): out byte c bit r = in byte r
    * bit c. Involutive — its own inverse. */
  @inline private def transBit8x8(x0: Long): Long = {
    var x = x0
    var t = (x ^ (x >>> 7)) & 0x00AA00AA00AA00AAL
    x = x ^ t ^ (t << 7)
    t = (x ^ (x >>> 14)) & 0x0000CCCC0000CCCCL
    x = x ^ t ^ (t << 14)
    t = (x ^ (x >>> 28)) & 0x00000000F0F0F0F0L
    x = x ^ t ^ (t << 28)
    x
  }

  /** Bit-shuffle forward over one block (c-blosc flag 0x4 semantics). */
  private[zarr] def bitshuffleInPlace(buf: Array[Byte], off: Int, len: Int, typesize: Int): Unit = {
    val ts = math.max(1, typesize)
    val n = (len / ts) & ~7
    if (n == 0) return // fewer than 8 elements: whole block stays raw
    val planeLen = n / 8
    val tmp = new Array[Byte](n * ts)
    var j = 0
    while (j < ts) {
      var w = 0
      while (w < planeLen) {
        var x = 0L
        var m = 0
        while (m < 8) { // little-endian gather: element 8w+m's byte j -> byte m
          x |= (buf(off + (8 * w + m) * ts + j) & 0xffL) << (8 * m)
          m += 1
        }
        x = transBit8x8(x)
        var b = 0
        while (b < 8) {
          tmp((j * 8 + b) * planeLen + w) = (x >>> (8 * b)).toByte
          b += 1
        }
        w += 1
      }
      j += 1
    }
    System.arraycopy(tmp, 0, buf, off, n * ts) // tail bytes stay raw in place
  }

  /** Bit-shuffle inverse over one block — exact mirror of
    * [[bitshuffleInPlace]] (the transpose is involutive). */
  private[zarr] def bitunshuffleInPlace(buf: Array[Byte], off: Int, len: Int, typesize: Int): Unit = {
    val ts = math.max(1, typesize)
    val n = (len / ts) & ~7
    if (n == 0) return
    val planeLen = n / 8
    val tmp = new Array[Byte](n * ts)
    var j = 0
    while (j < ts) {
      var w = 0
      while (w < planeLen) {
        var x = 0L
        var b = 0
        while (b < 8) {
          x |= (buf(off + (j * 8 + b) * planeLen + w) & 0xffL) << (8 * b)
          b += 1
        }
        x = transBit8x8(x)
        var m = 0
        while (m < 8) {
          tmp((8 * w + m) * ts + j) = (x >>> (8 * m)).toByte
          m += 1
        }
        w += 1
      }
      j += 1
    }
    System.arraycopy(tmp, 0, buf, off, n * ts)
  }
}
