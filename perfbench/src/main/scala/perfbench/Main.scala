package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One timed operation of a workload's closed loop. A failed or wrong op
  * keeps its record (it counts as attempted and failed) but contributes
  * no time to any latency or rate. */
final case class Op(id: Int, kind: String, seconds: Double, ok: Boolean, counts: SparkCounts,
                    t0Ms: Long, t1Ms: Long, traced: Boolean, userBytes: Long)

/** Everything a workload needs: the session, the seeded inputs, the time
  * budget, the tracer and the scheduler counters. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val smoke: Boolean, val work: Path,
                val expectWrong: Boolean) {
  val tracer = new Tracer(false)
  val counters = new Counters
  val ops = ArrayBuffer[Op]()
  private var nextOp = 0

  /** Run one op. `body` returns the check of its output, evaluated after
    * the clock stops against the op's scheduler counters, plus the user
    * bytes it returned or wrote. Any exception is a failed op. */
  def op(kind: String)(body: => (SparkCounts => Boolean, Long)): Unit = {
    tracer.op = nextOp; nextOp += 1
    counters.begin(spark)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (check, bytes) =
      try tracer.span(kind, "bench")(body)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        ((_: SparkCounts) => false, 0L)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    val counts = counters.end(spark)
    val ok = try check(counts) catch { case e: Throwable =>
      System.err.println(s"[perfbench] $kind check failed: $e"); false
    }
    if (!ok) System.err.println(s"[perfbench] $kind op ${tracer.op} FAILED check")
    ops += Op(tracer.op, kind, secs, ok, counts, t0Ms, t1Ms, tracer.enabled, bytes)
  }

  /** Mark every op from index `from` on as failed: they ran as one unit
    * whose output a later check found wrong. */
  def failFrom(from: Int): Unit =
    (from until ops.size).foreach(i => ops(i) = ops(i).copy(ok = false))

  /** Times to keep for a kind: successful ops, traced or untraced. */
  def good(kind: String, traced: Boolean): Seq[Op] =
    ops.toSeq.filter(o => o.kind == kind && o.ok && o.traced == traced)

  /** Run `step` (one op, or one cycle that must complete as a unit) `n`
    * times: every run of a workload does the same work, so its samples
    * cover the same stretch of JIT warm-up. A traced run alternates
    * untraced and traced steps, so the same run yields the tracing
    * overhead without the warm-up drift between its halves. */
  def measure(n: Int)(step: () => Unit): Unit =
    (0 until n).foreach { i =>
      tracer.enabled = trace && i % 2 == 1
      step()
    }

  /** Steps that fill `--seconds` at `unitSeconds` each (at least two);
    * `unitSeconds` is the step's time on a 4-core sandbox. */
  def steps(unitSeconds: Double): Int =
    if (smoke) 2 else math.max(2, math.round(seconds / unitSeconds).toInt)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** A metric as printed: value plus unit. */
final case class M(value: Double, unit: String)

object Main {
  val workloads = Seq("cube_read", "cube_ingest", "query_mix")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val smoke = kv.getOrElse("smoke", "0") == "1"
    val expectWrong = kv.getOrElse("wrong-expected", "0") == "1"
    val work = Paths.get(kv.getOrElse("work", "perfbench/.work")).toAbsolutePath
    val dataDir = Paths.get(kv.getOrElse("data", "perfbench/data/sf0.001")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val tSession = System.nanoTime()
    val spark = Session.build(cpus, work)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val ctx = new Ctx(spark, seed, seconds, trace, smoke, work, expectWrong)
    spark.sparkContext.addSparkListener(ctx.counters)
    spark.listenerManager.register(ctx.counters)

    val result: WorkloadResult = workload match {
      case "cube_read" => CubeRead.run(ctx)
      case "cube_ingest" => CubeIngest.run(ctx)
      case "query_mix" => QueryMix.run(ctx, dataDir)
    }
    val rssMb = peakRssMb()
    val tStop = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] session ${sessionS}%.1f s, workload ${(tStop - tSession) / 1e9 - sessionS}%.1f s, stop ${(System.nanoTime() - tStop) / 1e9}%.1f s")

    val stamp = Stamp.json(workload, seed, seconds, cpus, result.geometry)
    // set-up as a user pays it: session start plus the workload's set-up
    val setup = "setup_s" -> M(sessionS + result.e2e("setup_s").value, "s")
    val e2e = result.e2e ++ Map("peak_rss_mb" -> M(rssMb, "MB"), setup)
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    val report = result.report ++ Map(setup,
      "peak_rss_mb" -> M(rssMb, "MB"),
      "session_start_s" -> M(sessionS, "s"),
      "ops_failed_frac" -> M(if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio"))
    // the workload's issue-named metrics and the run's provenance, on the
    // line before the result line (the result line holds only the
    // BENCHMARK.json metrics)
    println(s"""{"report":${metricsJson(report)},"stamp":$stamp}""")
    if (trace) {
      val traceFile = work.resolve(s"trace_${workload}_$seed.json")
      Files.writeString(traceFile,
        s"""{"stamp":$stamp,"spans":${ctx.tracer.spansJson},"ops":${opsJson(ctx.ops.toSeq)}}""")
      System.err.println(s"[perfbench] trace written to $traceFile")
    }
    val metrics = if (trace) Layers.complete(result.layers) else e2e
    val correct = failed == 0 && attempted > 0 && result.checked
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(metrics)}}""")
  }

  def metricsJson(ms: Map[String, M]): String = ms.toSeq.sortBy(_._1).map { case (k, m) =>
    val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
    s""""$k":{"value":$v,"unit":"${m.unit}"}"""
  }.mkString("{", ",", "}")

  private def opsJson(ops: Seq[Op]): String = ops.map { o =>
    val c = o.counts
    s"""{"op":${o.id},"kind":"${o.kind}","s":${o.seconds},"ok":${o.ok},"traced":${o.traced},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""driver_only_ms":${c.driverOnlyMs(o.t0Ms, o.t1Ms)},"executor_run_ms":${c.executorRunMs},""" +
      s""""executor_cpu_ms":${c.executorCpuNs / 1000000},"gc_ms":${c.gcMs},""" +
      s""""input_bytes":${c.inputBytes},"input_records":${c.inputRecords},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
      s""""spill_bytes":${c.spillBytes},"peak_exec_mem":${c.peakExecMem},"stage_skew":${c.stageSkew},""" +
      s""""plan_phases_ms":${c.planPhasesMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}"""
  }.mkString("[", ",\n", "]")

  /** Process high-water resident set, from the kernel's accounting. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** What a workload hands back: the gated end-to-end metrics, its
  * issue-named metrics, the per-layer metrics of a traced run, and whether
  * its correctness checks ran. */
final case class WorkloadResult(e2e: Map[String, M], report: Map[String, M],
                                layers: Map[String, M], geometry: String,
                                checked: Boolean)

object Session {
  /** The engine's bench session shape at local[nproc], with every scratch
    * directory inside the benchmark's work dir. */
  def build(cpus: Int, work: Path): SparkSession = {
    Files.createDirectories(work.resolve("spark-local"))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stamp {
  /** Provenance of a run: the numbers are only comparable between runs
    * whose stamps agree on hardware, width and software. */
  def json(workload: String, seed: Long, seconds: Double, cpus: Int, geometry: String): String = {
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).find(_.startsWith("-Xmx")).getOrElse("default")
    val xmxMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val sha = sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")
    s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"nproc":$cpus,""" +
      s""""master":"local[$cpus]","git_sha":"$sha","jvm_xmx":"$xmx","jvm_max_heap_mb":$xmxMb,""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}","java":"${sys.props("java.version")}",""" +
      s""""geometry":$geometry,""" +
      s""""comparability":"sandbox numbers at local[$cpus]; not comparable with runs at another width (e.g. the 32-cpu BENCH_r*.json files)"}"""
  }
}
