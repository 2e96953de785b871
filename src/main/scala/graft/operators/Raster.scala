package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geom

/** Reference-shaped relational operators (species_range_etl.py, cited per op).
  *
  * Everything here is declarative DataFrame algebra — Catalyst pushes the
  * filters into the parquet scan, prunes columns, and plans the aggregates as
  * partial+final, so each op scales to arbitrarily many input files without
  * code changes.
  */
object Raster {

  /** O-7 — per-cell threshold predicate (`raster >= t`,
    * species_range_etl.py:101,123). `>=` not `>`: boundary cells survive.
    */
  def thresholdFilter(cells: DataFrame, probCol: String, t: Double): DataFrame =
    cells.filter(col(probCol) >= t)

  /** O-7 ×3 — all thresholds in one pass: cross join against a tiny
    * thresholds dimension (broadcast — never a shuffle), then one filter.
    * Replaces the reference's 3 sequential raster passes
    * (species_range_etl.py:101,123) with a single scan.
    */
  def thresholdExplode(cells: DataFrame, probCol: String, ts: Seq[Double]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val dim = ts.toDF("threshold")
    cells.crossJoin(broadcast(dim)).filter(col(probCol) >= col("threshold"))
  }

  /** O-2 — HTML scrape, link extraction (species_range_etl.py:142-154):
    * select the `.thumbnail-file-group` blocks, take the `<h4>` title as
    * the scenario and the SECOND `<li><a href>` as the zip url. Relational
    * form over staged HTML text: explode the group blocks, then per-block
    * regexp extraction — no DOM library, same two fields the reference's
    * BeautifulSoup selector yields.
    */
  def htmlLinks(pages: DataFrame, keyCol: String, htmlCol: String): DataFrame =
    pages
      .select(col(keyCol),
        // (?s): real pages break blocks across lines — matches the staging
        // script's re.S contract (tools/stage_species_inputs.py BLOCK_RE)
        explode(regexp_extract_all(col(htmlCol),
          lit("(?s)<div class=\"thumbnail-file-group\">(.*?)</div>"), lit(1))).as("block"))
      .select(col(keyCol),
        regexp_extract(col("block"), "<h4>([^<]*)</h4>", 1).as("scenario"),
        // try_element_at: a malformed block with <2 hrefs yields null (like
        // the oracle's list[2]) instead of an ANSI INVALID_ARRAY_INDEX error
        try_element_at(regexp_extract_all(col("block"),
          lit("href=\"([^\"]*)\""), lit(1)), lit(2)).as("zip_url"))

  /** O-3 — zip member routing by filename prefix
    * (species_range_etl.py:163-169): a member whose path starts with the
    * species name extracts to `ascii/`, anything else to
    * `ascii/{species}/`. Pure column function; corrupt-zip tolerance is the
    * accumulator path in EsriAsciiGrid.readCells.
    */
  def zipMemberRoute(member: Column, species: Column): Column =
    when(member.startsWith(species), concat(lit("ascii/"), member))
      .otherwise(concat(lit("ascii/"), species, lit("/"), member))

  /** O-8 — filename-metadata extraction (species_range_etl.py:188-198).
    *
    * `{threshold}_current.shp`          -> (threshold, "vtech", "current", "2020")
    * `{threshold}_{src}_{scen}_y{yyyy}` -> (threshold, src, scen, yyyy)
    *
    * Returns the four derived columns; compose with `withColumn`.
    */
  def parseRasterFilename(fname: Column): (Column, Column, Column, Column) = {
    val base = regexp_replace(fname, "\\.[A-Za-z]+$", "")
    val toks = split(base, "_")
    val isCurrent = element_at(toks, 2) === "current"
    val threshold = element_at(toks, 1)
    val source    = when(isCurrent, lit("vtech")).otherwise(element_at(toks, 2))
    val scenario  = when(isCurrent, lit("current")).otherwise(element_at(toks, 3))
    val year      = when(isCurrent, lit("2020"))
      .otherwise(regexp_replace(element_at(toks, 4), "^y", ""))
    (threshold, source, scenario, year)
  }

  /** Pure-Scala twin of [[parseRasterFilename]] for unit tests against the
    * exact cases of species_range_etl.py:188-198.
    */
  def parseRasterFilenameScala(fname: String): (String, String, String, String) = {
    val toks = fname.replaceAll("\\.[A-Za-z]+$", "").split("_")
    if (toks(1) == "current") (toks(0), "vtech", "current", "2020")
    else (toks(0), toks(1), toks(2), toks(3).stripPrefix("y"))
  }

  /** O-9/O-10/O-13 — enrichment: literal metadata columns
    * (species_range_etl.py:200-204), rename (Id -> species_id, :210,224-225),
    * surrogate key (`sid`, :228,236).
    *
    * Two sid modes:
    * - default (`globalSidOrder = false`): `monotonically_increasing_id()` —
    *   unique, BIGINT, computed per-partition with ZERO exchange, the only
    *   formulation that survives 100 TB (ids are non-contiguous: the
    *   partition id lives in the upper 31 bits);
    * - oracle mode (`globalSidOrder = true`): `row_number()` over an explicit
    *   total order — contiguous and deterministic, but funnels the whole
    *   input through ONE task for the global sort, so it is strictly for
    *   bounded oracle-comparability runs (q_enrich_literals), never the
    *   default an operator imposes at scale.
    */
  def enrich(df: DataFrame, lits: Map[String, String], renames: Map[String, String],
             sidOrder: Seq[Column], globalSidOrder: Boolean = false): DataFrame = {
    val withLits = lits.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
    val renamed = renames.foldLeft(withLits) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    // BIGINT either way (an INT sid overflows past 2.1e9 rows)
    if (globalSidOrder)
      renamed.withColumn("sid",
        row_number().over(Window.orderBy(sidOrder: _*)).cast("long"))
    else
      renamed.withColumn("sid", monotonically_increasing_id())
  }

  /** O-15 (relational half) — dissolve without geometry: group by the
    * dissolve keys and aggregate (species_range_etl.py:205). Geometry half
    * is [[dissolveGeo]].
    */
  def dissolveRelational(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** O-15 + O-16 + O-11 — the full dissolve: cells -> cell rectangles ->
    * geometric union per key -> area (species_range_etl.py:127,205,227).
    * Polygonization is pure column math + an associative union aggregate:
    * no driver-side geometry, distributes as partial+final agg.
    */
  def dissolveGeo(cells: DataFrame, keys: Seq[String], rowCol: String, colCol: String,
                  xll: Double, yll: Double, cellsize: Double, nrows: Int): DataFrame = {
    val rect = Geom.stCellRect(xll, yll, cellsize, nrows)
    cells
      .withColumn("cell_geom", rect(col(rowCol), col(colCol)))
      .groupBy(keys.map(col): _*)
      .agg(Geom.stUnionAgg(col("cell_geom")).as("geometry"))
      .withColumn("area", Geom.stArea(col("geometry")))
  }

  /** O-17/O-18 — union-all of per-source frames; empty inputs contribute
    * zero rows (species_range_etl.py:208-223). unionByName is position-safe.
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** O-19 — incremental skip-if-exists as an anti-join
    * (species_range_etl.py:54-57,64-69,118-120): keep incoming rows whose
    * key is absent from the existing sink. At scale this is a shuffled hash
    * anti-join on the key — or a broadcast anti-join when `existing` is a
    * pruned key-only projection. Rows keep `incoming`'s column order (a
    * USING join would move the keys first), so appending them to the sink
    * writes files with the sink's own schema.
    */
  def incrementalAntiJoin(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .select(incoming.columns.map(col): _*)

  /** O-20 — speciesdata sink (species_range_etl.py:230-236). Parquet stands
    * in for PostGIS offline; `mode` mirrors `if_exists="replace"`. Partition
    * by low-cardinality dissolve keys so downstream reads prune.
    */
  def writeSpeciesData(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** O-20 JDBC variant (species_range_etl.py:230-236): full-replace load,
    * executor-side batched inserts (vs the reference's single connection at
    * chunksize=5). Tested offline against
    * embedded Derby (ships with Spark — RasterSpec round-trips write,
    * read-back, and overwrite-replace).
    *
    * Geometry lands as generic WKB `bytea` through this stock path
    * (Spark's JDBC writer maps BinaryType via the dialect default; no
    * stock dialect knows PostGIS types, and the INSERT builder cannot
    * wrap a placeholder in `ST_GeomFromWKB`). For the reference's TYPED
    * `geometry(MultiPolygon, 4326)` column (geopandas `to_postgis`,
    * species_range_etl.py:230-236) use [[graft.sources.PostGis]]: typed
    * DDL + `ST_GeomFromWKB(?, 4326)` batched inserts, or its
    * `alterToGeometrySql` to convert a bytea column this writer loaded.
    * The live PostGIS server is unreachable here (zero egress); the
    * statement text and the batched plumbing are Derby-tested offline.
    */
  def writeSpeciesDataJdbc(df: DataFrame, url: String, table: String,
                           batchSize: Int = 10000,
                           options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(options)
      .mode("overwrite")
      .save()
}
