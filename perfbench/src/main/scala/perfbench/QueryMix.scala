package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** query_mix: the engine's headline queries through the `noop` sink, one
  * closed-loop client, after one untimed warm pass that also checks every
  * result against a recorded hash. */
object QueryMix {
  /** Frozen subset of the engine bench's headline list: one query per
    * operator family, sized so a warm pass plus several timed passes fit
    * one run. Left out: the zarr/mdio queries and ann_ivf_pruned, which
    * build fixed stores under /tmp, and the stream_*_exec queries, which
    * checkpoint to tmpfs (a run may write only inside its own working
    * directory; the store path is measured by cube_read and cube_ingest
    * instead); and graph_pagerank, whose ~2 s alone would halve the passes
    * a run can time. */
  val queries: Seq[String] = Seq(
    "q1_pricing_summary", "agg_cube", "join_asof", "window_range_frame",
    "dedup_exact", "ann_brute_force", "text_tokens", "pipeline_recipe",
    "multimodal_mp4", "geo_utm")
  val smokeQueries = Seq("q1_pricing_summary", "agg_cube", "geo_utm")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case s if s.matches("q[0-9]+") => "tpch"
    case "window" | "sort" | "set" => "window_sort_set"
    case "zarr" | "mdio" => "zarr_mdio"
    case s => s
  }

  /** Order-insensitive hash of a result: columns by name, each row
    * rendered canonically, rows sorted. */
  def resultHash(df: DataFrame): String = {
    val fields = df.schema.fieldNames.zipWithIndex.sortBy(_._1)
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = df.collect().map(r => fields.map { case (_, i) => render(r.get(i)) }.mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(fields.map(_._1).mkString("|").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def loadHashes(f: Path): Map[String, String] =
    if (!Files.exists(f)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> m.group(2)).toMap

  def run(ctx: Ctx, dataDir: Path): WorkloadResult = {
    val spark = ctx.spark
    val sf = dataDir.toString
    val names = if (ctx.smoke) smokeQueries else queries
    val registry = graft.SparkEntry.queries
    // a wrong-expected run flips one digit of every recorded hash, so the
    // comparison below must report each query as failed
    val want = loadHashes(dataDir.resolve("expected_hashes.json")).map { case (q, h) =>
      q -> (if (ctx.expectWrong) h.updated(0, if (h(0) == '0') '1' else '0') else h)
    }

    // set-up: one untimed pass (JIT and codegen warm-up) that also checks
    // every result against its recorded hash
    val t0 = System.nanoTime()
    val got = names.map { q =>
      q -> (try resultHash(registry(q)(spark, sf)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed in the warm pass: $e"); "error"
      })
    }.toMap
    val setupS = (System.nanoTime() - t0) / 1e9
    val good = names.filter { q =>
      val ok = got(q) != "error" && want.get(q).contains(got(q))
      if (!ok) System.err.println(s"[perfbench] $q result hash ${got(q)} != expected ${want.getOrElse(q, "(none)")}")
      ok
    }.toSet
    val rnd = new scala.util.Random(ctx.seed)

    def runQuery(q: String): Unit = ctx.op(q) {
      val df = ctx.tracer.span("build", "queries")(registry(q)(spark, sf))
      ctx.tracer.span("exec", "spark")(df.write.format("noop").mode("overwrite").save())
      ((_: SparkCounts) => good(q), 0L)
    }
    ctx.measure(ctx.steps(4.0))(() => rnd.shuffle(names).foreach(runQuery))

    def perQuery(traced: Boolean): Map[String, Double] =
      names.flatMap(q => ctx.good(q, traced).map(_.seconds) match {
        case Seq() => None
        case xs => Some(q -> Stats.median(xs))
      }).toMap
    val med = perQuery(false)
    val allOk = med.size == names.size
    val totalS = if (allOk) med.values.sum else Double.NaN
    val geoMs = if (allOk) Stats.geomean(med.values.map(_ * 1000).toSeq) else Double.NaN
    val inputMb = names.map(q => Stats.median(ctx.good(q, false).map(_.counts.inputBytes / 1e6))).sum
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "p50_ms" -> M(Stats.median(names.flatMap(q => ctx.good(q, false)).map(_.seconds)) * 1000, "ms"),
      "throughput_mb_s" -> M(inputMb / totalS, "MB/s"),
      "geomean_ms" -> M(geoMs, "ms"),
      "total_s" -> M(totalS, "s"))
    val report = Map(
      "mix_total_s" -> M(totalS, "s"),
      "mix_geomean_ms" -> M(geoMs, "ms"),
      "mix_passes" -> M(names.map(q => ctx.good(q, false).size).min, "count"),
      "mix_queries" -> M(names.size, "count"))
    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else {
        val passes = math.max(1, names.map(q => ctx.good(q, true).size).min)
        def spanSum(name: String) =
          ctx.tracer.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum / passes
        val tmed = perQuery(true)
        Layers.common(ctx) ++ Map(
          "queries.build_s" -> M(spanSum("build"), "s"),
          "queries.plan_s" -> M(names.flatMap(q => ctx.good(q, true)).map(_.counts.planMs).sum / 1000.0 / passes, "s"),
          "queries.exec_s" -> M(spanSum("exec"), "s"),
          "trace.overhead_ms" -> M((tmed.values.sum - med.values.sum) * 1000, "ms")) ++
          Layers.families.map { f =>
            s"queries.family.${f}_s" -> M(tmed.filter(kv => family(kv._1) == f).values.sum, "s")
          }
      }
    WorkloadResult(e2e, report, layers,
      s"""{"data":"${dataDir.getFileName}","sf":"${dataDir.getFileName.toString.stripPrefix("sf")}",""" +
        s""""queries":${names.size},"expected_hashes":${want.size}}""",
      checked = want.nonEmpty)
  }
}
