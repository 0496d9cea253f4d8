package perfbench

import graft.operators.{MdioDataset, MdioStats}
import graft.sources.{MdioChunkStats, MdioWriter}
import graft.spec.MdioSpec
import graft.zarr.{ChunkCodec, ShardCache, ZarrMeta}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Seeded synthetic seismic amplitude: a few dipping reflectors (a Ricker
  * wavelet placed along seeded planes) over a uniform noise floor. The
  * noise fills every mantissa bit, so chunks compress like recorded data
  * rather than like a smooth field. */
final class CubeGen(val seed: Long, val nIl: Int, val nXl: Int, val nZ: Int) extends Serializable {
  private val nRef = 6
  private val (z0, dIl, dXl, amp) = {
    val r = new java.util.Random(seed)
    (Array.fill(nRef)(r.nextInt(nZ)), Array.fill(nRef)(r.nextInt(17) - 8),
     Array.fill(nRef)(r.nextInt(17) - 8), Array.fill(nRef)(0.5 + 2.5 * r.nextDouble()))
  }
  private val half = 12
  private val wavelet = Array.tabulate(2 * half + 1) { i =>
    val t = (i - half) / 4.0
    (1 - 2 * t * t) * math.exp(-t * t)
  }

  def cells: Long = nIl.toLong * nXl * nZ

  def value(il: Long, xl: Long, z: Long): Float = {
    var v = 0.0
    var r = 0
    while (r < nRef) {
      val t = (z - (z0(r) + (dIl(r) * il + dXl(r) * xl) / 16)).toInt
      if (t >= -half && t <= half) v += amp(r) * wavelet(t + half)
      r += 1
    }
    var h = seed * 0x9E3779B97F4A7C15L + (il * 1000003L + xl) * 1000033L + z
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= h >>> 31
    v += ((h >>> 11) / 9007199254740992.0 - 0.5) * 0.8
    v.toFloat
  }

  /** The cube as long-form cells, generated by Spark tasks. */
  def frame(spark: SparkSession, partitions: Int): DataFrame = {
    val (x, z) = (nXl.toLong, nZ.toLong)
    val g = this
    spark.range(0, cells, 1, partitions)
      .map { i: java.lang.Long =>
        val il = i / (x * z); val xl = i / z % x; val d = i % z
        (il, xl, d, g.value(il, xl, d))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaFloat))
      .toDF("inline", "crossline", "depth", "amplitude")
  }

  /** The cells of the box [lo, hi) as a long-form frame. */
  def boxFrame(spark: SparkSession, lo: (Long, Long, Long), hi: (Long, Long, Long)): DataFrame = {
    val (nx, nz) = (hi._2 - lo._2, hi._3 - lo._3)
    val g = this
    spark.range(0, (hi._1 - lo._1) * nx * nz, 1, 1)
      .map { i: java.lang.Long =>
        val il = lo._1 + i / (nx * nz); val xl = lo._2 + i / nz % nx; val d = lo._3 + i % nz
        (il, xl, d, g.value(il, xl, d))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaFloat))
      .toDF("inline", "crossline", "depth", "amplitude")
  }

  /** Cell count and checksum of the box [lo, hi) evaluated from `v`. */
  def boxSum(lo: (Long, Long, Long), hi: (Long, Long, Long),
             v: (Long, Long, Long) => Float = value): (Long, Long) = {
    var n = 0L; var s = 0L
    var il = lo._1
    while (il < hi._1) {
      var xl = lo._2
      while (xl < hi._2) {
        var z = lo._3
        while (z < hi._3) { s += Cube.term(il, xl, z, v(il, xl, z)); n += 1; z += 1 }
        xl += 1
      }
      il += 1
    }
    (n, s)
  }
}

object Cube {
  val variable = "amplitude"

  /** Position-weighted checksum term of one cell: the value at 2^-20
    * resolution (exact in double) times a small position weight, so a
    * whole-cube sum stays far inside a long. */
  def term(il: Long, xl: Long, z: Long, a: Float): Long =
    math.rint(a * 1048576.0).toLong * ((il * 7 + xl * 13 + z * 31) % 1021 + 1)

  /** The same checksum over a frame with the long-form cube columns. */
  def checksumCol = sum(rint(col(variable) * 1048576.0).cast("long") *
    ((col("inline") * 7 + col("crossline") * 13 + col("depth") * 31) % 1021 + 1))

  def rowsSum(rows: Array[Row]): (Long, Long) = {
    var s = 0L
    rows.foreach(r => s += term(r.getLong(0), r.getLong(1), r.getLong(2), r.getFloat(3)))
    (rows.length.toLong, s)
  }

  def spec(g: CubeGen, compressor: String, chunk: Seq[Int], shard: Option[Seq[Int]]): MdioSpec.Dataset = {
    val grid = shard.fold("")(s => s""", "shardShape": [${s.mkString(",")}]""")
    MdioSpec.fromJson(
      s"""{
         |  "metadata": {"name": "cube", "apiVersion": "v1.0",
         |               "createdOn": "2026-01-01T00:00:00Z"},
         |  "variables": [
         |    {"name": "inline", "dataType": "int64",
         |     "dimensions": [{"name": "inline", "size": ${g.nIl}}]},
         |    {"name": "crossline", "dataType": "int64",
         |     "dimensions": [{"name": "crossline", "size": ${g.nXl}}]},
         |    {"name": "depth", "dataType": "int64",
         |     "dimensions": [{"name": "depth", "size": ${g.nZ}}]},
         |    {"name": "$variable", "dataType": "float32",
         |     "dimensions": [{"name": "inline", "size": ${g.nIl}},
         |                    {"name": "crossline", "size": ${g.nXl}},
         |                    {"name": "depth", "size": ${g.nZ}}],
         |     "compressor": $compressor,
         |     "metadata": {"chunkGrid": {"name": "regular",
         |       "configuration": {"chunkShape": [${chunk.mkString(",")}]$grid}}}}
         |  ]
         |}""".stripMargin)
  }

  def storedBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Codec and metadata rates timed on a seeded sample of the store's own
    * chunks, by calling the zarr layer directly. */
  def zarrProbe(path: String, seed: Long, samples: Int): Map[String, M] = {
    val root = ZarrMeta.path(path)
    val metaMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); ZarrMeta.readGroup(root); (System.nanoTime() - t0) / 1e6
    }
    val (meta, _) = ZarrMeta.readGroup(root)._2(variable)
    val dir = root.resolve(variable)
    val rnd = new scala.util.Random(seed)
    val grid = meta.chunkGrid
    val coords = Seq.fill(samples)(grid.map(n => (rnd.nextLong() & Long.MaxValue) % n))
    val cache = new ShardCache
    val shardMs = scala.collection.mutable.ArrayBuffer[Double]()
    val raws = try coords.map { cc =>
      val f = meta.chunkFile(dir, cc)
      if (meta.shard.isDefined) {
        val t0 = System.nanoTime()
        val b = cache.readInnerChunk(f, meta, cc)
        shardMs += (System.nanoTime() - t0) / 1e6
        b
      } else f.readAllBytes()
    } finally cache.close()
    val rawSize = meta.chunks.product.toInt * meta.elemSize
    val t0 = System.nanoTime()
    val decoded = raws.map(r => ChunkCodec.decodeDoubles(ChunkCodec.decompress(r, meta.compressor, rawSize), meta.dtype))
    val decS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    decoded.foreach(d => ChunkCodec.compress(ChunkCodec.encodeDoubles(d, meta.dtype),
      meta.compressor, meta.elemSize, meta.blosc))
    val encS = (System.nanoTime() - t1) / 1e9
    val mb = samples.toDouble * rawSize / 1e6
    val sidecarMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); MdioChunkStats.current(dir); (System.nanoTime() - t0) / 1e6
    }
    Map(
      "zarr.decode_mb_s" -> M(mb / decS, "MB/s"),
      "zarr.encode_mb_s" -> M(mb / encS, "MB/s"),
      "zarr.meta_read_ms" -> M(Stats.median(metaMs), "ms"),
      "zarr.shard_read_ms" -> M(if (shardMs.isEmpty) 0.0 else Stats.median(shardMs.toSeq), "ms"),
      "sources.sidecar_read_ms" -> M(Stats.median(sidecarMs), "ms"))
  }
}

/** cube_read: a seeded closed-loop mix of full scans, inline and
  * crossline sections, depth slices and metadata MIN/MAX over a v2 zstd
  * cube that the code under test wrote during set-up. */
object CubeRead {
  // one cycle of the mix; the seed shuffles the order and the positions
  val cycle = Seq.fill(2)("scan") ++ Seq.fill(3)("inline") ++ Seq.fill(3)("crossline") ++
    Seq.fill(3)("timeslice") ++ Seq.fill(2)("minmax")

  def run(ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    val g = if (ctx.smoke) new CubeGen(ctx.seed, 32, 32, 64)
            else new CubeGen(ctx.seed, 256, 256, 256)
    val chunk = if (ctx.smoke) Seq(16, 16, 32) else Seq(64, 64, 64)
    val path = ctx.work.resolve("cube_read.mdio").toString
    val userBytes = g.cells * 4
    val spec = Cube.spec(g, """{"name": "zstd"}""", chunk, None)
    val rnd = new scala.util.Random(ctx.seed)

    // expected extremes from the generator, without the connector
    val (mins, maxs) = (Array.fill(g.nIl)(Float.MaxValue), Array.fill(g.nIl)(Float.MinValue))
    java.util.stream.IntStream.range(0, g.nIl).parallel().forEach { il =>
      for (xl <- 0 until g.nXl; z <- 0 until g.nZ) {
        val v = g.value(il, xl, z)
        if (v < mins(il)) mins(il) = v
        if (v > maxs(il)) maxs(il) = v
      }
    }
    val wantMin = mins.min - (if (ctx.expectWrong) 1f else 0f)
    val wantMax = maxs.max

    def section(kind: String, dim: String, at: Long): Unit = ctx.op(kind) {
      val ds = ctx.tracer.span("open", "operators")(MdioDataset.open(spark, path))
      val sl = ctx.tracer.span("slice_build", "operators")(ds.isel(dim, at, at + 1))
      val df = sl.data.select("inline", "crossline", "depth", Cube.variable)
      val rows = ctx.tracer.span("collect", "spark")(df.collect())
      val lo = (if (dim == "inline") at else 0L, if (dim == "crossline") at else 0L, if (dim == "depth") at else 0L)
      val hi = (if (dim == "inline") at + 1 else g.nIl.toLong, if (dim == "crossline") at + 1 else g.nXl.toLong,
                if (dim == "depth") at + 1 else g.nZ.toLong)
      ((_: SparkCounts) => Cube.rowsSum(rows) == g.boxSum(lo, hi), rows.length * 4L)
    }
    def scan(): Unit = ctx.op("scan") {
      val ds = ctx.tracer.span("open", "operators")(MdioDataset.open(spark, path))
      ctx.tracer.span("noop_write", "spark")(ds.data.write.format("noop").mode("overwrite").save())
      ((c: SparkCounts) => c.inputRecords == g.cells, userBytes)
    }
    def minmax(): Unit = ctx.op("minmax") {
      val ds = ctx.tracer.span("open", "operators")(MdioDataset.open(spark, path))
      val df = ds.data.agg(min(Cube.variable), max(Cube.variable))
      val r = ctx.tracer.span("collect", "spark")(df.head())
      ((_: SparkCounts) => r.getFloat(0) == wantMin && r.getFloat(1) == wantMax, 8L)
    }
    def runKind(k: String): Unit = k match {
      case "scan" => scan()
      case "inline" => section("inline", "inline", rnd.nextInt(g.nIl).toLong)
      case "crossline" => section("crossline", "crossline", rnd.nextInt(g.nXl).toLong)
      case "timeslice" => section("timeslice", "depth", rnd.nextInt(g.nZ).toLong)
      case "minmax" => minmax()
    }

    // set-up: write the cube with the code under test (twice, keeping the
    // median), then one warm op of each kind
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val writes = (1 to (if (ctx.smoke) 1 else 2)).map { _ =>
      timed {
        MdioWriter.delete0(path)
        MdioWriter.create(spec, path)
        MdioWriter.insertAligned(g.frame(spark, spark.sparkContext.defaultParallelism), path)
      }
    }
    val setupS = Stats.median(writes) + timed(cycle.distinct.foreach(runKind))
    ctx.ops.clear()
    val stored = Cube.storedBytes(java.nio.file.Paths.get(path))

    ctx.measure(ctx.steps(2.9))(() => rnd.shuffle(cycle).foreach(runKind))

    def ms(kinds: Seq[String]) = kinds.flatMap(k => ctx.good(k, false)).map(_.seconds * 1000)
    val sections = ms(Seq("inline", "crossline"))
    val slices = ms(Seq("timeslice"))
    val scanMbS = Stats.median(ctx.good("scan", false).map(o => userBytes / 1e6 / o.seconds))
    val kindMedians = Seq(ms(Seq("scan")), sections, slices, ms(Seq("minmax"))).map(Stats.median)
    val cycleS = cycle.groupBy(identity).map { case (k, ks) => ks.size * Stats.median(ms(Seq(k))) / 1000 }.sum
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "p50_ms" -> M(Stats.median(sections), "ms"),
      "throughput_mb_s" -> M(scanMbS, "MB/s"),
      "geomean_ms" -> M(Stats.geomean(kindMedians), "ms"),
      "total_s" -> M(cycleS, "s"))
    val report = Map(
      "scan_mb_s" -> M(scanMbS, "MB/s"),
      "section_p50_ms" -> M(Stats.median(sections), "ms"),
      "section_p90_ms" -> M(Stats.quantile(sections, 0.9), "ms"),
      "section_samples" -> M(sections.size, "count"),
      "timeslice_p50_ms" -> M(Stats.median(slices), "ms"),
      "timeslice_p90_ms" -> M(Stats.quantile(slices, 0.9), "ms"),
      "timeslice_samples" -> M(slices.size, "count"),
      "minmax_meta_p50_ms" -> M(Stats.median(ms(Seq("minmax"))), "ms"),
      "stored_bytes_per_user_byte" -> M(stored.toDouble / userBytes, "ratio"))
    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else {
        val traced = Seq("inline", "crossline").flatMap(k => ctx.good(k, true)).map(_.seconds * 1000)
        val shortOps = ctx.ops.filter(o => o.traced && o.ok && o.kind != "scan").toSeq
        val readOps = shortOps.filter(o => o.kind != "minmax")
        Layers.common(ctx) ++ Cube.zarrProbe(path, ctx.seed, 16) ++ Map(
          "sources.plan_ms" -> M(Stats.median(shortOps.map(_.counts.planMs.toDouble)), "ms"),
          "sources.tasks_per_op" -> M(Layers.mean(shortOps.map(_.counts.tasks.toDouble)), "count"),
          "sources.fetched_mb" -> M(Layers.mean(readOps.map(_.counts.inputBytes / 1e6)), "MB"),
          "sources.fetch_per_returned" -> M(
            readOps.map(_.counts.inputBytes).sum.toDouble / math.max(1L, readOps.map(_.userBytes).sum), "ratio"),
          "sources.scan_task_s" -> M(Stats.median(ctx.good("scan", true).map(_.counts.executorRunMs / 1000.0)), "s"),
          "operators.open_ms" -> M(Layers.spanMedianMs(ctx, "open"), "ms"),
          "operators.slice_build_ms" -> M(Layers.spanMedianMs(ctx, "slice_build"), "ms"),
          "trace.overhead_ms" -> M(Stats.median(traced) - Stats.median(sections), "ms"))
      }
    WorkloadResult(e2e, report, layers,
      s"""{"cube":[${g.nIl},${g.nXl},${g.nZ}],"dtype":"float32","zarr":2,"codec":"zstd",""" +
        s""""chunks":[${chunk.mkString(",")}],"user_mb":${userBytes / 1e6}}""",
      checked = true)
  }
}

/** cube_ingest: create + insertAligned of a v3 sharding_indexed cube with
  * blosc inner chunks, then seeded unaligned sub-box overwrites
  * (read-modify-write), MdioStats.attach, and a checksum read-back. */
object CubeIngest {
  def run(ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    val (g, chunk, shard, box, patches) =
      if (ctx.smoke) (new CubeGen(ctx.seed, 32, 32, 64), Seq(8, 8, 16), Seq(16, 16, 32), 6, 2)
      else (new CubeGen(ctx.seed, 192, 192, 128), Seq(32, 32, 32), Seq(64, 64, 64), 24, 6)
    val patchGen = new CubeGen(ctx.seed + 1, g.nIl, g.nXl, g.nZ)
    val path = ctx.work.resolve("cube_ingest.mdio").toString
    val blosc = """{"name": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}"""
    val spec = Cube.spec(g, blosc, chunk, Some(shard))
    val userBytes = g.cells * 4
    val rnd = new scala.util.Random(ctx.seed)
    val par = spark.sparkContext.defaultParallelism

    val cells = g.frame(spark, par).persist(StorageLevel.MEMORY_ONLY)
    // expected whole-cube checksum from the generator, without the connector
    val baseRow = cells.agg(count("*"), Cube.checksumCol).head()
    val base = (baseRow.getLong(0), baseRow.getLong(1) + (if (ctx.expectWrong) 1L else 0L))

    // disjoint patch boxes: one per slot of a coarse grid, at a seeded
    // offset inside its slot; a box is smaller than a chunk, so every chunk
    // it touches is only partly overwritten (read-modify-write)
    val slot = 2 * box
    val slots = for { a <- 0 until g.nIl / slot; b <- 0 until g.nXl / slot; c <- 0 until g.nZ / slot } yield (a, b, c)
    def patchBoxes(): Seq[((Long, Long, Long), (Long, Long, Long))] =
      rnd.shuffle(slots).take(patches).map { case (a, b, c) =>
        def at(s: Int) = s.toLong * slot + 1 + rnd.nextInt(box - 1)
        val lo = (at(a), at(b), at(c))
        (lo, (lo._1 + box, lo._2 + box, lo._3 + box))
      }

    // the ingest and patch ops are checked by the cycle's read-back: when
    // it finds the store wrong, every op of the cycle counts as failed
    def cycleOnce(): Unit = {
      val boxes = patchBoxes()
      val first = ctx.ops.size
      ctx.op("ingest") {
        ctx.tracer.span("delete_create", "sources") {
          MdioWriter.delete0(path); MdioWriter.create(spec, path, version = 3)
        }
        ctx.tracer.span("insert_aligned", "sources")(MdioWriter.insertAligned(cells, path))
        ((_: SparkCounts) => true, userBytes)
      }
      var want = base
      boxes.foreach { case (lo, hi) =>
        val before = g.boxSum(lo, hi)
        val after = patchGen.boxSum(lo, hi)
        want = (want._1, want._2 - before._2 + after._2)
        ctx.op("patch") {
          val df = patchGen.boxFrame(spark, lo, hi)
          ctx.tracer.span("write_variable", "sources")(MdioWriter.writeVariable(spark, df, path, Cube.variable))
          ((_: SparkCounts) => true, before._1 * 4)
        }
      }
      ctx.op("attach") {
        val ds = ctx.tracer.span("open", "operators")(MdioDataset.open(spark, path))
        val st = ctx.tracer.span("stats_compute", "operators")(
          MdioStats.compute(spark, ds, Cube.variable, histLo = -8.0, histWidth = 0.5, histBins = 32))
        ctx.tracer.span("stats_attach", "operators")(MdioStats.attach(path, Cube.variable, st))
        ((_: SparkCounts) => st.count == g.cells, 0L)
      }
      val expected = want
      ctx.op("readback") {
        val ds = ctx.tracer.span("open", "operators")(MdioDataset.open(spark, path))
        val r = ctx.tracer.span("collect", "spark")(ds.data.agg(count("*"), Cube.checksumCol).head())
        ((_: SparkCounts) => (r.getLong(0), r.getLong(1)) == expected, userBytes)
      }
      if (!ctx.ops.last.ok) {
        System.err.println(s"[perfbench] read-back failed: the cycle's ${ctx.ops.size - first} ops count as failed")
        ctx.failFrom(first)
      }
    }

    // set-up: data generation into memory, then warm-up cycles of the
    // same shape (the median of the warm cycles is reported)
    val t0 = System.nanoTime()
    cells.count()
    val genS = (System.nanoTime() - t0) / 1e9
    val setups = (1 to (if (ctx.smoke) 1 else 2)).map { _ =>
      val t = System.nanoTime(); cycleOnce(); genS + (System.nanoTime() - t) / 1e9
    }
    ctx.ops.clear()

    ctx.measure(ctx.steps(4.4))(() => cycleOnce())
    val stored = Cube.storedBytes(java.nio.file.Paths.get(path))

    def ms(k: String, traced: Boolean = false) = ctx.good(k, traced).map(_.seconds * 1000)
    val patchMs = ms("patch")
    val ingestMbS = Stats.median(ctx.good("ingest", false).map(o => userBytes / 1e6 / o.seconds))
    val kindMs = Seq("ingest", "patch", "attach", "readback").map(k => Stats.median(ms(k)))
    val cycleS = (kindMs(0) + patches * kindMs(1) + kindMs(2) + kindMs(3)) / 1000
    val e2e = Map(
      "setup_s" -> M(Stats.median(setups), "s"),
      "p50_ms" -> M(Stats.median(patchMs), "ms"),
      "throughput_mb_s" -> M(ingestMbS, "MB/s"),
      "geomean_ms" -> M(Stats.geomean(kindMs), "ms"),
      "total_s" -> M(cycleS, "s"))
    val report = Map(
      "ingest_mb_s" -> M(ingestMbS, "MB/s"),
      "patch_p50_ms" -> M(Stats.median(patchMs), "ms"),
      "patch_samples" -> M(patchMs.size, "count"),
      "stored_bytes_per_user_byte" -> M(stored.toDouble / userBytes, "ratio"))
    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else {
        val ingests = ctx.good("ingest", true)
        // the attach op of a cycle runs right after its patches
        val attachMs = Layers.spanMsByOp(ctx, "stats_attach")
        val commits = ingests.map { o =>
          (o.t1Ms - o.counts.lastTaskEndMs).toDouble + attachMs.getOrElse(o.id + patches + 1, 0.0)
        }
        val writeOps = ctx.ops.filter(o => o.traced && o.ok && (o.kind == "ingest" || o.kind == "patch")).toSeq
        Layers.common(ctx) ++ Cube.zarrProbe(path, ctx.seed, 16) ++ Map(
          "sources.tasks_per_op" -> M(Layers.mean(writeOps.map(_.counts.tasks.toDouble)), "count"),
          "sources.fetched_mb" -> M(Layers.mean(ctx.good("patch", true).map(_.counts.inputBytes / 1e6)), "MB"),
          "sources.write_task_s" -> M(Stats.median(ingests.map(_.counts.resultStageRunMs / 1000.0)), "s"),
          "sources.commit_ms" -> M(Stats.median(commits), "ms"),
          "operators.open_ms" -> M(Layers.spanMedianMs(ctx, "open"), "ms"),
          "operators.stats_attach_ms" -> M(Layers.spanMedianMs(ctx, "stats_attach"), "ms"),
          "trace.overhead_ms" -> M(Stats.median(ms("patch", true)) - Stats.median(patchMs), "ms"))
      }
    cells.unpersist()
    WorkloadResult(e2e, report, layers,
      s"""{"cube":[${g.nIl},${g.nXl},${g.nZ}],"dtype":"float32","zarr":3,"codec":"blosc-lz4-shuffle",""" +
        s""""chunks":[${chunk.mkString(",")}],"shards":[${shard.mkString(",")}],"patch_box":$box,""" +
        s""""patches_per_cycle":$patches,"user_mb":${userBytes / 1e6}}""",
      checked = true)
  }
}
