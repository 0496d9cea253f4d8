package graft.sources

import graft.SparkSpec
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** An unwritten cell reads the same before and after a partial write
  * materialises its chunk. The reader's missing-chunk fill and both
  * writers' read-modify-write seeds (MdioWriter.writeVariable and the
  * DSv2 MdioDataWriter) share one rule, `ZarrMeta.ArrayMeta.fillDouble` /
  * `fillLong`: `fill_value`, or NaN (float) / 0 (integral, bool) when it
  * is null. Stores written by zarr-python carry `fill_value` 0 or null,
  * so the spec rewrites the fill MdioWriter.create put there to each. */
class MdioFillRuleSpec extends SparkSpec {

  private val allDtypes = Seq("bool", "int8", "int32", "int64", "uint8", "uint16", "uint32",
    "uint64", "float16", "float32", "float64", "complex64")
  // zarr v3 (sharded) has no float16/complex data_type names here
  private val v3Dtypes = Seq("bool", "int8", "int32", "uint8", "uint64", "float32", "float64")

  /** Variables `v_<dtype>` over dim i (size 8, chunk 4; one 8-cell shard
    * when sharded), every `fill_value` rewritten to `fill`. */
  private def make(dtypes: Seq[String], fill: Option[Double], sharded: Boolean): String = {
    val dir = Files.createTempDirectory("mdio_fill").resolve("f.mdio").toString
    val grid = if (sharded) """{"chunkShape": [4], "shardShape": [8]}""" else """{"chunkShape": [4]}"""
    val vars = dtypes.map { dt =>
      s"""{"name": "v_$dt", "dataType": "$dt", "dimensions": [{"name": "i", "size": 8}],
         | "metadata": {"chunkGrid": {"name": "regular", "configuration": $grid}}}""".stripMargin
    }
    MdioWriter.create(MdioSpec.fromJson(
      s"""{
         |  "metadata": {"name": "f", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
         |  "variables": [
         |    {"name": "i", "dataType": "int64", "dimensions": [{"name": "i", "size": 8}]},
         |    ${vars.mkString(",\n    ")}
         |  ]
         |}""".stripMargin), dir, version = if (sharded) 3 else 2)
    val root = ZarrMeta.path(dir)
    val (_, arrays) = ZarrMeta.readGroup(root)
    dtypes.foreach { dt =>
      val (m, attrs) = arrays(s"v_$dt")
      ZarrMeta.writeArray(root, s"v_$dt", m.copy(fillValue = fill), attrs)
    }
    if (!sharded) ZarrMeta.consolidate(root)
    val (_, reread) = ZarrMeta.readGroup(root)
    dtypes.foreach(dt => assert(reread(s"v_$dt")._1.fillValue == fill))
    dir
  }

  /** (variable, i) -> the cell as Spark renders it as a string. */
  private def readAll(dir: String, dtypes: Seq[String]): Map[(String, Long), String] = {
    val df = spark.read.format("mdio").load(dir)
    val cols = dtypes.map(dt => s"v_$dt")
    df.select(col("i") +: cols.map(c => col(c).cast("string")): _*).collect().flatMap { r =>
      cols.indices.map(k => (cols(k), r.getLong(0)) -> r.getString(k + 1))
    }.toMap
  }

  /** What an unwritten cell must read as under fill `fill`. */
  private def expectedFill(dt: String, fill: Option[Double]): String = (dt, fill) match {
    case ("bool", _) => "false"
    case ("complex64", None) => "{NaN, NaN}"
    case ("complex64", _) => "{0.0, 0.0}"
    case (f, None) if f.startsWith("float") => "NaN"
    case (f, _) if f.startsWith("float") => "0.0"
    case _ => "0"
  }

  /** Cell i = 1 of every variable: one value per dtype. */
  private def patch(dtypes: Seq[String]): DataFrame = {
    val values = dtypes.map { dt =>
      val v = dt match {
        case "bool" => lit(true)
        case "complex64" => struct(lit(1.5).as("re"), lit(-1.5).as("im"))
        case f if f.startsWith("float") => lit(1.5)
        case _ => lit(5)
      }
      v.cast(MdioSpec.sparkType(dt)).as(s"v_$dt")
    }
    spark.range(1, 2).select(col("id").as("i") +: values: _*)
  }
  private def written(dt: String): String = dt match {
    case "bool" => "true"
    case "complex64" => "{1.5, -1.5}"
    case f if f.startsWith("float") => "1.5"
    case _ => "5"
  }

  for {
    sharded <- Seq(false, true)
    dsv2 <- Seq(false, true)
    fill <- Seq(Some(0.0), None)
  } {
    val writer = if (dsv2) "df.write" else "writeVariable"
    val store = if (sharded) "sharded v3" else "v2"
    test(s"fill_value ${fill.fold("null")(_ => "0")}: $writer on a $store store keeps " +
      "unwritten cells as the missing chunk read them") {
      val dtypes = if (sharded) v3Dtypes else allDtypes
      val dir = make(dtypes, fill, sharded)
      val before = readAll(dir, dtypes)
      for (dt <- dtypes; i <- 0L until 8L)
        assert(before((s"v_$dt", i)) == expectedFill(dt, fill), s"missing-chunk read of $dt at $i")
      val p = patch(dtypes)
      if (dsv2) p.write.format("mdio").mode("append").save(dir)
      else dtypes.foreach(dt => MdioWriter.writeVariable(spark, p.select("i", s"v_$dt"), dir, s"v_$dt"))
      val after = readAll(dir, dtypes)
      for (dt <- dtypes; i <- 0L until 8L) {
        val want = if (i == 1L) written(dt) else before((s"v_$dt", i))
        assert(after((s"v_$dt", i)) == want, s"$writer re-read of $dt at $i")
      }
      MdioWriter.delete(dir)
    }
  }
}
