package graft

import graft.functions.Geom
import graft.operators.{Raster, SpeciesPipeline}
import java.nio.file.Files
import org.apache.spark.sql.functions.{concat, lit}

/** End-to-end speciesdata pipeline on golden grids, including the parquet
  * sink round-trip (O-20) and incremental anti-join semantics (O-19).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gridDir: String = {
    val d = Files.createTempDirectory("graft-pipe").toString
    Files.writeString(java.nio.file.Paths.get(d, "oakx.asc"),
      """ncols 2
        |nrows 2
        |xllcorner 0.0
        |yllcorner 0.0
        |cellsize 0.5
        |NODATA_value -9999
        |0.9 0.4
        |0.6 -9999
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(d, "pinex.asc"),
      """ncols 1
        |nrows 1
        |xllcorner 5.0
        |yllcorner 5.0
        |cellsize 1.0
        |NODATA_value -9999
        |0.8
        |""".stripMargin)
    d
  }

  test("speciesdata: full chain produces the A4 schema with exact areas") {
    // globalSidOrder: this test asserts CONTIGUOUS sids (oracle mode);
    // the scale-default distributed-sid mode is covered by PlanSpec
    val out = SpeciesPipeline.speciesData(spark, s"$gridDir/*.asc", globalSidOrder = true)
    assert(out.columns.toSeq === Seq("sid", "species", "geometry", "species_id",
      "threshold", "source", "scenario", "year", "srid", "area"))
    // O-12: CRS queryable as a column (species_range_etl.py:131-135)
    assert(out.select("srid").distinct().as[Int].collect().toSeq === Seq(4326))
    val rows = out.select("sid", "species", "threshold", "area")
      .as[(Long, String, String, Double)].collect().sortBy(_._1)
    assert(rows === Array(
      (1L, "oakx", "25", 0.75),  // 3 cells >= 0.25, cell area 0.25
      (2L, "oakx", "50", 0.5),   // 0.9, 0.6
      (3L, "oakx", "75", 0.25),  // 0.9
      (4L, "pinex", "25", 1.0), (5L, "pinex", "50", 1.0), (6L, "pinex", "75", 1.0)))
  }

  test("speciesdata: union geometry merges adjacent cells (oakx L-shape)") {
    val out = SpeciesPipeline.speciesData(spark, s"$gridDir/*.asc")
    val g = out.filter($"species" === "oakx" && $"threshold" === "50")
      .select("geometry").as[Array[Byte]].collect()(0)
    assert(Geom.numGeometries(g) === 1) // two vertically adjacent cells merge
  }

  test("parquet sink + incremental anti-join skip semantics") {
    val out = SpeciesPipeline.speciesData(spark, s"$gridDir/*.asc")
    val sink = Files.createTempDirectory("graft-sink").toString + "/speciesdata"
    Raster.writeSpeciesData(out, sink, partitionBy = Seq("threshold"))
    val readBack = spark.read.parquet(sink)
    assert(readBack.count() === 6)
    // incremental: everything already in the sink -> nothing to load
    val incoming = out.select("species", "threshold")
    val todo = Raster.incrementalAntiJoin(incoming,
      readBack.select("species", "threshold"), Seq("species", "threshold"))
    assert(todo.count() === 0)
    // a new species appears -> only it survives the anti-join
    val newer = incoming.unionByName(Seq(("maplex", "25")).toDF("species", "threshold"))
    assert(Raster.incrementalAntiJoin(newer, readBack.select("species", "threshold"),
      Seq("species", "threshold")).count() === 1)
  }

  test("an incremental append keeps the sink's column order") {
    val out = SpeciesPipeline.speciesData(spark, s"$gridDir/*.asc")
    val sink = Files.createTempDirectory("graft-sink").toString + "/speciesdata"
    Raster.writeSpeciesData(out, sink)
    val firstSchema = spark.read.parquet(sink).schema
    // a second batch of new species: every row survives the anti-join
    val batch = out.withColumn("species", concat($"species", lit("_b")))
    val todo = Raster.incrementalAntiJoin(batch, spark.read.parquet(sink),
      Seq("species", "threshold"))
    assert(todo.columns.toSeq === out.columns.toSeq)
    todo.write.mode("append").parquet(sink)
    // a bare read takes its schema from one file's footer, so every file
    // must carry the first write's schema
    assert(spark.read.parquet(sink).schema === firstSchema)
    val files = new java.io.File(sink).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    for (f <- files) assert(spark.read.parquet(f).schema === firstSchema, f)
    assert(spark.read.parquet(sink).count() === 12)
  }
}
