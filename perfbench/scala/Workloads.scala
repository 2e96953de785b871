package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.operators.{Dedup, Graph, Raster, Similarity, SpeciesPipeline, TextAnalysis}
import graft.sources.EsriAsciiGrid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** One operation of a workload's pass.
  *
  * @param name    per-layer metric stem, `<layer>.<Object>.<function>`
  * @param build   constructs the result; iterative operators run jobs here
  * @param execute forces the result; returns (rows, checksum)
  * @param extras  counters read after execute (sink rows, corrupt files)
  * @param dump    projection written out once, in the warm pass, for the
  *                truth checks made after the run
  */
final case class Op(
    name: String,
    build: () => DataFrame,
    execute: DataFrame => (Long, Long) = graft.Bench.materialize,
    extras: () => Map[String, Long] = () => Map.empty,
    dump: Option[DataFrame => DataFrame] = Some(identity))

/** The op lists. Every op reaches the engine through its public API only. */
object Workloads {

  def apply(workload: String, spark: SparkSession, in: String, work: String,
            p: JsonNode): Seq[Op] = workload match {
    case "species_etl"     => speciesEtl(spark, in, work, p)
    case "graph_iterative" => graphIterative(spark, in, p)
    case "llm_dedup"       => llmDedup(spark, in, p)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def longs(p: JsonNode, key: String): Seq[Long] =
    p.get(key).elements().asScala.map(_.asLong).toSeq

  private def speciesEtl(spark: SparkSession, in: String, work: String,
                         p: JsonNode): Seq[Op] = {
    val gridsA = s"$in/grids_a/*.asc"
    val gridsB = s"$in/grids_b/*.asc"
    val sink = s"$work/speciesdata"
    val thresholds = p.get("thresholds").elements().asScala.map(_.asDouble).toSeq
    val keys = Seq("species", "threshold")
    val corrupt = spark.sparkContext.longAccumulator("corrupt_files")
    def sinkRows() = Map("sink_rows" -> spark.read.parquet(sink).count())
    val summary: DataFrame => DataFrame = _.select("sid", "species", "threshold", "species_id", "area")
    // `sid` is a monotonically_increasing_id: unique, but its values follow
    // task and row order, which differ between passes. The checksum that
    // every timed pass must reproduce therefore leaves it out; the truth
    // check tests its uniqueness.
    val withoutSid: DataFrame => (Long, Long) = df => graft.Bench.materialize(df.drop("sid"))
    Seq(
      Op("sources.EsriAsciiGrid.readCells",
        () => { corrupt.reset(); EsriAsciiGrid.readCells(spark, gridsA, Some(corrupt)) },
        extras = () => Map("corrupt_files" -> corrupt.value.longValue),
        dump = None),
      Op("operators.SpeciesPipeline.speciesData",
        () => SpeciesPipeline.speciesData(spark, gridsA, thresholds),
        execute = withoutSid, dump = Some(summary)),
      Op("operators.SpeciesPipeline.speciesDataExact",
        () => SpeciesPipeline.speciesDataExact(spark, gridsA, thresholds),
        execute = withoutSid, dump = Some(summary)),
      Op("operators.Raster.writeSpeciesData",
        () => SpeciesPipeline.speciesData(spark, gridsA, thresholds),
        execute = df => { Raster.writeSpeciesData(df, sink); (0L, 0L) },
        extras = sinkRows, dump = None),
      // second batch: keep only (species, threshold) keys the sink lacks, append them
      Op("operators.Raster.incrementalAntiJoin",
        () => Raster.incrementalAntiJoin(SpeciesPipeline.speciesData(spark, gridsB, thresholds),
          spark.read.parquet(sink), keys),
        execute = df => { df.write.mode("append").parquet(sink); (0L, 0L) },
        extras = sinkRows, dump = None),
      // named columns: the appended files carry incrementalAntiJoin's column
      // order (USING-join keys first), and a bare read takes its schema from
      // whichever footer it reads first
      Op("operators.Raster.readback",
        () => spark.read.parquet(sink).select("sid", "species", "geometry", "species_id",
          "threshold", "source", "scenario", "year", "srid", "area"),
        execute = withoutSid, dump = Some(summary)))
  }

  private def graphIterative(spark: SparkSession, in: String, p: JsonNode): Seq[Op] = {
    import spark.implicits._
    def edges = spark.read.parquet(s"$in/edges.parquet")
    def int(k: String) = p.get(k).asInt
    val seeds = longs(p, "ppr_seed_nodes").toDF("node")
    val landmarks = longs(p, "landmark_nodes").toDF("lm")
    Seq(
      Op("operators.Graph.pageRank", () => Graph.pageRank(edges, int("pr_iters"))),
      Op("operators.Graph.personalizedPageRank",
        () => Graph.personalizedPageRank(edges, seeds, int("ppr_iters"))),
      Op("operators.Graph.hits", () => Graph.hits(edges, int("hits_iters"))),
      Op("operators.Graph.labelPropagation",
        () => Graph.labelPropagation(edges.select(col("src").as("a"), col("dst").as("b")),
          int("lpa_iters"))),
      Op("operators.Graph.kCore", () => Graph.kCore(edges, int("kcore_k"), int("kcore_rounds"))),
      Op("operators.Graph.landmarkCloseness",
        () => Graph.landmarkCloseness(edges, landmarks, int("lm_rounds"))),
      Op("operators.Graph.bipartiteCheck",
        () => Graph.bipartiteCheck(edges, p.get("bip_source").asLong, int("bip_rounds"))))
  }

  private def llmDedup(spark: SparkSession, in: String, p: JsonNode): Seq[Op] = {
    def docs = spark.read.parquet(s"$in/docs.parquet")
    def vecs = spark.read.parquet(s"$in/vecs.parquet")
    def int(k: String) = p.get(k).asInt
    def dbl(k: String) = p.get(k).asDouble
    Seq(
      Op("operators.Dedup.exact", () => Dedup.exact(docs)),
      Op("operators.Dedup.minhashPairs",
        () => Dedup.minhashPairs(docs, int("k"), int("num_hashes"), int("band_size"),
          dbl("min_jaccard"))),
      Op("operators.Dedup.setSimJoin",
        () => Dedup.setSimJoin(docs, int("k"), int("sim_num"), int("sim_den"))),
      Op("operators.Dedup.simhashPairs", () => Dedup.simhashPairs(docs, int("max_hamming"))),
      Op("operators.Similarity.lshPairs",
        () => Similarity.lshPairs(vecs, int("lsh_planes"), int("dim"), dbl("min_cosine"))),
      Op("operators.Similarity.ivfPairs",
        () => Similarity.ivfPairs(vecs, int("ivf_centroids"), dbl("min_cosine"))),
      Op("operators.TextAnalysis.textStats", () => TextAnalysis.textStats(docs),
        dump = Some(_.drop("text"))))
  }
}
