package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Geo, Scalars}
import graft.model.{StacCatalog, StacCollection, StacItem}
import graft.ops.StacOps
import graft.sink.{CogWriter, StacJsonSink}
import graft.source.{NetCdf, NetCdfSource}

/** Entry point 1 — `envstacgen preprocess` re-expressed as one Spark
  * dataflow (ref cli.py:13-52 → preprocess.py:15-88 →
  * generator.py:587-808, SURVEY §3.1).
  *
  * The reference opens each file three times and fans out leadtimes over
  * a process pool; here one cached tidy scan feeds every stage and Spark
  * task parallelism replaces the pool (X1/X2). Stage map:
  *
  *   config validate (S5/J5)            → ConfigRegistry
  *   hemisphere + CRS + bands (P1/P2/P9)→ NetCdfSource.manifest
  *   tidy scanlines (P1/P3)             → NetCdfSource.tidy, the DSv2
  *                                        `netcdf` reader (splits
  *                                        oversized files)
  *   bbox + geometry (A1/F11/F12)       → coord agg + Geo.projToGeo
  *   per-init item construction (F5/F6) → Scalars id/time functions
  *   per-init netCDF slices (K1, P8)    → foreachPartition NetCdf.write
  *   thumbnails for leadtime 0 (K3/W3)  → foreachPartition ImageIO JPEG
  *   band statistics (A2)               → hash aggregate over tidy rows
  *   asset rows + file info (E1/E2/E3/J6) → binaryFile manifest join
  *   get-or-create vs existing (J1/J2)  → anti-join / extent merge
  *   catalog tree (K4, F8)              → StacJsonSink
  *
  * The reference's per-slice loops become set-oriented grouping here:
  * time-slice / leadtime-slice / band selection (P4/P5/P6) are the
  * `groupBy(time_idx)` fan-out, the `leadtime_idx === 0` thumbnail
  * filter, and the first-band election below — SURVEY §2.2's "no loop
  * at all" mapping. Item↔catalog attachment (J7) is the
  * `collection`/`item_id` fk columns; the tree shape only materializes
  * in the JSON sink.
  */
object Preprocess {

  final case class Options(
      name: String,                       // collection id (ref process(name=...))
      dataPath: String,
      catalogName: String = "catalog",
      forecastFrequency: String = "1days",
      license: String = "CC-BY-4.0",
      fileServerUrl: Option[String] = None,
      stacOnly: Boolean = false,
      overwrite: Boolean = false,
      compress: Boolean = true,   // DEFLATE default on (ref generator.py:620)
      // K1 slice format: "netcdf4" = HDF5 + shuffle + deflate-9, the
      // reference's output envelope (generator.py:969-977, zlib=True
      // complevel=9); "classic" = uncompressed CDF-1
      ncFormat: String = "netcdf4",
      // K2: warp COGs to EPSG:4326 before writing (ref reproject flag,
      // generator.py:826,1006-1007 — default OFF there too)
      reproject: Boolean = false)

  final case class Result(catalogRoot: String, nItems: Long, nSlices: Long)

  private val FreqRe =
    "^\\s*([0-9]*\\.?[0-9]+)\\s*(hours?|days?|weeks?|months?|years?)\\s*$".r

  /** F1, driver-side (the reference parses once per run). */
  def parseFrequency(s: String): (Double, String) = s.toLowerCase match {
    case FreqRe(v, u) => (v.toDouble, u)
    case _ => throw new IllegalArgumentException(s"Invalid leadtime format: $s")
  }

  /** CF-convention time decode: "<unit> since <base>" → milliseconds
    * scale + base epoch (xarray's decode_coords analogue for the classic
    * calendar).
    */
  private val SinceRe = "^(seconds?|minutes?|hours?|days?) since (.+)$".r
  def parseTimeUnits(units: String): (Long, java.time.Instant) = units match {
    case SinceRe(u, base) =>
      val scale = u.stripSuffix("s") match {
        case "second" => 1000L
        case "minute" => 60000L
        case "hour" => 3600000L
        case "day" => 86400000L
      }
      val b = base.trim.replace(" ", "T")
      val inst = java.time.Instant.parse(
        if (b.length == 10) b + "T00:00:00Z"
        else if (b.endsWith("Z")) b else b + "Z")
      (scale, inst)
    case other => throw new IllegalArgumentException(s"time units: $other")
  }

  /** The pipeline is input-format agnostic: a path holding a `.zgroup`
    * is a Zarr v2 store (one store = one logical multiband file), any
    * other glob is netCDF files. Both sources produce the SAME manifest
    * and tidy schemas, so every downstream stage is shared.
    */
  private def isZarrStore(input: String): Boolean =
    !input.contains("*") && (Files.exists(Paths.get(input, ".zgroup")) ||
      Files.exists(Paths.get(input, "zarr.json"))) // v2 / v3 markers

  private def sourceManifest(spark: SparkSession, input: String) =
    if (isZarrStore(input)) graft.source.ZarrSource.forecastManifest(spark, input)
    else NetCdfSource.manifest(spark, input)

  private def sourceTidy(spark: SparkSession, input: String) =
    if (isZarrStore(input)) graft.source.ZarrSource.tidy(spark, input)
    else NetCdfSource.tidy(spark, input)

  def run(spark: SparkSession, inputGlob: String, opts: Options): Result = {
    import spark.implicits._

    // ---- S5/J5: config pinning before any work (ref generator.py:627)
    new ConfigRegistry(s"${opts.dataPath}/config.json")
      .storeOrValidate(opts.name,
        Map("forecast_frequency" -> opts.forecastFrequency))
    val (step, unit) = parseFrequency(opts.forecastFrequency)

    // ---- metadata pass: P1/P2/P9 + CRS + time units (header-only decode)
    val man = sourceManifest(spark, inputGlob).persist()
    val fileMeta = man.filter(col("is_band"))
      .select(col("path"), col("crs"), col("lat_min")).distinct()
    val timeUnits = man
      .filter(col("variable").isin(NetCdfSource.TimeCandidates: _*))
      .select(col("units")).distinct().as[String].collect()
    require(timeUnits.length == 1, s"mixed time units: ${timeUnits.toSeq}")
    val (tScale, tBase) = parseTimeUnits(timeUnits.head)
    // one driver action for both scalars instead of two tiny jobs
    val metaRows = fileMeta
      .select(col("crs"), Scalars.hemisphere(col("lat_min")).as("h"))
      .distinct().as[(String, String)].collect()
    val hemisphere = metaRows.map(_._2).distinct.headOption.getOrElse("")
    val crs = metaRows.map(_._1).distinct.head

    // ---- one cached tidy scan replaces the reference's three opens
    val tidy = sourceTidy(spark, inputGlob).persist()

    // ---- A1/F11/F12: bbox in projected meters → geographic via LAEA
    val bboxRow = tidy.agg(
      min(array_min(col("xs"))), max(array_max(col("xs"))),
      min(col("y")), max(col("y"))).head()
    val projBbox = Seq(bboxRow.getDouble(0), bboxRow.getDouble(2),
      bboxRow.getDouble(1), bboxRow.getDouble(3))
    val geoBbox = Geo.projToGeo(projBbox, crs)
    val geometry =
      s"""{"type": "Polygon", "coordinates": [[[${geoBbox(2)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(1)}]]]}"""

    // ---- per-(file, init) frame: reference time, id, leadtime count
    val refTime = timestamp_millis(
      (col("time") * tScale).cast("long") + lit(tBase.toEpochMilli))
    val inits = tidy
      .groupBy(col("path"), col("time_idx"), col("time"))
      .agg(countDistinct(col("leadtime_idx")).as("nleadtime"))
      .withColumn("ref_time", refTime)
      .withColumn("item_id", Scalars.itemId(col("ref_time")))
      .withColumn("end_time", Scalars.calendarAdd(col("ref_time"), lit(unit),
        (col("nleadtime") - 1) * step))
      .withColumn("date_str", Scalars.fmtDate(col("ref_time")))
      .withColumn("ts_str", Scalars.formatTime(col("ref_time")))
      .persist()

    // ---- A2: band statistics per (file, init, variable, leadtime).
    // vec_stats folds each scanline to six scalars inside codegen, so the
    // aggregation shuffles one small row per scanline instead of one row
    // per grid cell (the explode form multiplies shuffle rows by the grid
    // width — ~432× on a real EASE grid; same shape as q46). stddev is
    // reassembled from (Σv, Σv², n) with numpy's ddof=0 and a 0-clamp.
    val st = graft.functions.VecStatsExpr.vecStats(col("values"))
    val statPartials = tidy
      .select(col("path"), col("time_idx"), col("variable"),
        col("leadtime_idx"), col("leadtime"), st.as("st"))
      .groupBy(col("path"), col("time_idx"), col("variable"), col("leadtime_idx"),
        col("leadtime"))
      .agg(
        // all-NaN scanlines carry vmin/vmax = NaN; guard to null so
        // min()/max() skip them (Spark orders NaN above every double)
        min(when(col("st.n_valid") > 0, col("st.vmin"))).as("stat_min"),
        max(when(col("st.n_valid") > 0, col("st.vmax"))).as("stat_max"),
        sum(col("st.vsum")).as("sv"), sum(col("st.vsumsq")).as("sv2"),
        sum(col("st.n_valid")).as("nv"), sum(col("st.n_total")).as("nt"))
    val statMean = col("sv") / col("nv")
    val stats = statPartials.select(
      col("path"), col("time_idx"), col("variable"), col("leadtime_idx"),
      col("leadtime"), col("stat_min"), col("stat_max"),
      statMean.as("stat_mean"),
      // nv=0 (fully masked slice): sv2/nv is NULL and greatest() would skip
      // it, silently turning stddev into 0.0 next to NULL min/max/mean.
      // Guard to NULL — the reference's nanstd yields NaN there, and None
      // is what survives its JSON encoding (utils.py:247). valid_percent
      // stays 0*100/nt = 0.0, matching utils.py:248 exactly.
      when(col("nv") > 0,
        sqrt(greatest(col("sv2") / col("nv") - statMean * statMean, lit(0.0))))
        .as("stat_stddev"),
      Scalars.floor2dp(col("nv") * 100.0 / col("nt")).as("valid_percent"))

    // ---- K1/K2/K3 sinks (P8 existence-skip inside each): the three
    // file fan-outs are independent — they read only the cached tidy
    // scan and the tiny inits table — so they run as CONCURRENT Spark
    // jobs from separate threads. Sequentially each sink's many small
    // write jobs leave the cluster under-utilized between stages; the
    // overlap shortens the pipeline's critical path to the slowest
    // sink (the reference writes slice → thumbnail → COGs
    // sequentially per leadtime, generator.py:906-921). E3 enrichment
    // below reads the written files and stays strictly after the join.
    val nSlices =
      if (opts.stacOnly) 0L
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fSlices = Future(writeSlices(spark, tidy, inits, opts))
        val fThumbs = Future(writeThumbnails(spark, tidy, inits, opts))
        val fCogs = Future(
          writeCogs(spark, tidy, inits, stats, step, unit, crs, opts))
        Await.result(fThumbs, Duration.Inf)
        Await.result(fCogs, Duration.Inf)
        Await.result(fSlices, Duration.Inf)
      }

    // ---- item assembly + J2 get-or-create vs the existing catalog
    val catalogRoot = s"${opts.dataPath}/stac/${opts.catalogName}"
    val existing =
      if (Files.exists(Paths.get(catalogRoot, "catalog.json")))
        StacJsonSink.readItems(spark, catalogRoot)
      else spark.emptyDataset[StacItem]
    // J2 hoisted to the ID level (r21): an item's identity is
    // (collection, item_id) and item_id is decided by `inits` alone, so
    // only inits whose id is NOT already in the catalog pay E1/E2/E3 —
    // asset construction and the binaryFile size+multihash enrichment
    // scan. On the fully idempotent re-run path (every id present) the
    // assembly is skipped outright; getOrCreateItems(existing, items) ∪
    // existing reduces to exactly `existing` there, so the result is
    // unchanged — this only moves the anti-join before the expensive
    // stages instead of after them.
    val newInits = inits.join(
      existing.filter(col("collection") === lit(opts.name))
        .select(col("id").as("item_id")),
      Seq("item_id"), "left_anti").persist()
    val toWrite =
      if (newInits.isEmpty) existing
      else {
        // ---- E1/E2: asset rows (netcdf + per-leadtime cog + thumbnail)
        val assets = assetRows(newInits, stats, step, unit, opts)
        // ---- E3/J6: size + blockwise multihash of written files
        val enriched = enrichFileInfo(spark, assets, opts)
        val items = buildItems(spark, newInits, enriched, geoBbox,
          geometry, hemisphere, opts)
        // unionByName, never positional union: the two sides originate
        // from different plans (join output vs JSON scan) whose column
        // orders are not guaranteed to agree.
        // persisted: THREE actions consume this relation (the thumbnail
        // promotion's ordered head, the item count, and the catalog
        // write) and each would otherwise replay the full item assembly
        // including the enrichment joins (measured ~0.75 s per replay
        // at the harness fixture). Unpersisted with the other caches.
        StacOps.getOrCreateItems(existing, items)
          .unionByName(existing)
          .persist()
      }

    // ---- J1/A4: collection merge, then K4 catalog write
    val extent = inits.agg(
      min(Scalars.datetimeToStr(col("ref_time"))),
      max(Scalars.datetimeToStr(col("end_time")))).head()
    // W3 completion — promote the FIRST item's thumbnail to the
    // collection (ref generator.py:798-803, 944-957): one-row limit
    // collected, ordered by (datetime, id) so the election is
    // deterministic; mergeCollections keeps an already-stored
    // collection thumbnail over this incoming one
    val promotedThumb = toWrite
      .select(col("datetime"), col("id"), explode(col("assets")).as("a"))
      .filter(col("a.key") === "thumbnail")
      .orderBy(col("datetime"), col("id"))
      .limit(1)
      .select(col("a.*")).as[graft.model.StacAsset]
      .collect().headOption
    val incomingColl = StacCollection(
      id = opts.name, title = opts.name,
      description = // ref generator.py:654
        s"${opts.name.capitalize.replace("_", " ").replace("-", " ")} collection",
      license = opts.license, bbox = geoBbox,
      temporal_start = extent.getString(0), temporal_end = extent.getString(1),
      assets = promotedThumb.toSeq,
      extra = if (hemisphere.nonEmpty) Map("custom:hemisphere" -> hemisphere)
              else Map.empty)
    val collections =
      if (Files.exists(Paths.get(catalogRoot, "catalog.json")))
        StacOps.mergeCollections(
          StacJsonSink.readCollections(spark, catalogRoot),
          Seq(incomingColl).toDS()).collect().toSeq
      else Seq(incomingColl)

    val nItems = toWrite.count()
    StacJsonSink.write(catalogRoot,
      StacCatalog(opts.catalogName, s"${opts.catalogName} STAC catalog",
        collections.map(_.id)),
      collections, toWrite)
    man.unpersist(); tidy.unpersist(); inits.unpersist()
    newInits.unpersist()
    toWrite.unpersist() // no-op on the fast path (toWrite eq existing)
    Result(catalogRoot, nItems, nSlices)
  }

  /** Streaming group-by over a partition SORTED by the string key at
    * `keyIdx`: yields one (key, rows) group at a time, holding exactly
    * ONE group's rows in memory. The file sinks hash-repartition on
    * `out_path`, and several output files can land in one partition —
    * buffering the whole partition (`part.toSeq.groupBy`) made task
    * memory "all slices that hashed here" instead of the documented
    * one-slice contract. Sorting within the partition first makes each
    * group contiguous, so this iterator restores the bound without a
    * second shuffle.
    */
  private[graft] def groupedBySortedKey(
      part: Iterator[org.apache.spark.sql.Row], keyIdx: Int)
      : Iterator[(String, Seq[org.apache.spark.sql.Row])] =
    new Iterator[(String, Seq[org.apache.spark.sql.Row])] {
      private val it = part.buffered
      def hasNext: Boolean = it.hasNext
      def next(): (String, Seq[org.apache.spark.sql.Row]) = {
        val key = it.head.getString(keyIdx)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        while (it.hasNext && it.head.getString(keyIdx) == key) buf += it.next()
        (key, buf.toSeq)
      }
    }

  /** P8 fast path (r21): drop targets whose output file already exists
    * BEFORE the data join — on the idempotent re-run path every sink
    * previously shuffled and sorted the FULL tidy relation by out_path
    * only for each group to discover its file and skip (measured: the
    * three sinks were ~1.4 s of q47's warm iteration doing exactly
    * that). The existence probe runs distributed over the tiny target
    * manifest (the sinks already assume a task-visible shared
    * filesystem — they write to it); the per-group check downstream
    * remains the authoritative skip. Nondeterministic so the optimizer
    * cannot duplicate or reorder the filesystem probe.
    */
  private def pendingTargets(target: DataFrame, overwrite: Boolean): DataFrame =
    if (overwrite) target
    else {
      val missing = org.apache.spark.sql.functions.udf(
        (p: String) => !Files.exists(Paths.get(p))).asNondeterministic()
      target.filter(missing(col("out_path")))
    }

  /** K1: one .nc per (file, init) holding every band's slice, written
    * inside the tasks; existence-skip unless overwrite (P8, ref
    * generator.py:906-909 analogue for netCDF).
    */
  private def writeSlices(spark: SparkSession, tidy: DataFrame,
                          inits: DataFrame, opts: Options): Long = {
    import spark.implicits._
    val target = inits.select(col("path"), col("time_idx"),
      concat(lit(s"${opts.dataPath}/netcdf/${opts.name}/"), col("date_str"),
        lit("/"), col("ts_str"), lit(".nc")).as("out_path"))
    val rows = tidy
      .join(pendingTargets(target, opts.overwrite), Seq("path", "time_idx"))
      .select(col("out_path"), col("variable"), col("time"),
        col("leadtime_idx"), col("leadtime"), col("y_idx"), col("y"),
        col("xs"), col("values"))
    val overwrite = opts.overwrite
    val ncFormat = opts.ncFormat
    val written = rows
      .repartition(col("out_path"))
      .sortWithinPartitions(col("out_path"))
      .mapPartitions { part =>
        groupedBySortedKey(part, 0).map { case (outPath, rs) =>
          val p = Paths.get(outPath)
          if (Files.exists(p) && !overwrite) 0L
          else {
            Files.createDirectories(p.getParent)
            val xs = rs.head.getSeq[Double](7).toArray
            val ys = rs.map(r => r.getInt(5) -> r.getDouble(6)).distinct
              .sortBy(_._1).map(_._2).toArray
            val ls = rs.map(r => r.getInt(3) -> r.getDouble(4)).distinct
              .sortBy(_._1).map(_._2).toArray
            val t = rs.head.getDouble(2)
            val vars = rs.groupBy(_.getString(1)).toSeq.sortBy(_._1).map {
              case (vname, vrows) =>
                val grid = new Array[Double](ys.length * xs.length * ls.length)
                vrows.foreach { r =>
                  val (l, y) = (r.getInt(3), r.getInt(5))
                  val vals = r.getSeq[Double](8)
                  var x = 0
                  while (x < xs.length) {
                    grid((y * xs.length + x) * ls.length + l) = vals(x)
                    x += 1
                  }
                }
                NetCdf.VarSpec(vname, Seq("time", "yc", "xc", "leadtime"),
                  Seq(), grid)
            }
            val coordVars = Seq(
              NetCdf.VarSpec("time", Seq("time"), Seq(), Array(t)),
              NetCdf.VarSpec("yc", Seq("yc"), Seq("units" -> "m"), ys),
              NetCdf.VarSpec("xc", Seq("xc"), Seq("units" -> "m"), xs),
              NetCdf.VarSpec("leadtime", Seq("leadtime"), Seq(), ls))
            val dims = Seq("time" -> 1, "yc" -> ys.length, "xc" -> xs.length,
              "leadtime" -> ls.length)
            // K1 parity: the reference writes netCDF-4 with zlib level 9
            // (generator.py:969-977); classic CDF-1 stays available for
            // consumers without HDF5 readers
            Files.write(p,
              if (ncFormat == "netcdf4")
                graft.source.Hdf5Write.write(dims, Seq(), coordVars ++ vars)
              else NetCdf.write(dims, Seq(), coordVars ++ vars))
            1L
          }
        }
      }
    // sum via agg, not reduce: the pending pre-filter legitimately
    // leaves ZERO rows on the fully-idempotent path, and RDD reduce
    // throws on an empty collection
    written.toDF("n")
      .agg(coalesce(sum(col("n")), lit(0L)).cast("long")).head.getLong(0)
  }

  /** K3/W3: leadtime-0 thumbnail per item — first band mapped through a
    * blue→white→red diverging LUT (RdBu_r analogue) to JPEG via ImageIO.
    */
  private def writeThumbnails(spark: SparkSession, tidy: DataFrame,
                              inits: DataFrame, opts: Options): Unit = {
    val firstBand = tidy.select(col("variable")).distinct()
      .orderBy(col("variable")).limit(1)
    val target = inits.select(col("path"), col("time_idx"),
      concat(lit(s"${opts.dataPath}/cogs/${opts.name}/"), col("date_str"),
        lit("/"), col("item_id"), lit(".jpg")).as("out_path"))
    val overwrite = opts.overwrite
    tidy.filter(col("leadtime_idx") === 0)
      .join(firstBand, Seq("variable"), "left_semi")
      .join(pendingTargets(target, overwrite), Seq("path", "time_idx"))
      .select(col("out_path"), col("y_idx"), col("values"))
      .repartition(col("out_path"))
      .sortWithinPartitions(col("out_path"))
      .foreachPartition { part: Iterator[org.apache.spark.sql.Row] =>
        groupedBySortedKey(part, 0).foreach { case (outPath, rs) =>
          val p = Paths.get(outPath)
          if (!Files.exists(p) || overwrite) {
            Files.createDirectories(p.getParent)
            val rows = rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
            Files.write(p, Thumbnail.jpeg(rows.toArray))
          }
        }
      }
  }

  /** K2/P8: one multiband COG per (file, init, leadtime), all bands with
    * their A2 statistics embedded as GDAL_METADATA STATISTICS_* items,
    * DEFLATE tiles + overview pyramid (CogWriter). One task per COG via
    * repartition on the output path; existence-skip unless overwrite.
    * A slice (bands × y × x) must fit in task memory — the same contract
    * the reference's per-leadtime worker has (generator.py:811-959).
    */
  private def writeCogs(spark: SparkSession, tidy: DataFrame, inits: DataFrame,
                        stats: DataFrame, step: Double, unit: String,
                        crs: String, opts: Options): Unit = {
    val validTime = Scalars.calendarAdd(col("ref_time"), lit(unit),
      col("leadtime_idx") * step)
    val targets = stats.select(col("path"), col("time_idx"), col("leadtime_idx"))
      .distinct()
      .join(inits, Seq("path", "time_idx"))
      .withColumn("valid_time", validTime)
      .select(col("path"), col("time_idx"), col("leadtime_idx"),
        concat(lit(s"${opts.dataPath}/cogs/${opts.name}/"), col("date_str"),
          lit("/"), Scalars.cogItemId(col("item_id"), col("valid_time")),
          lit(".tif")).as("out_path"))
    val statsByBand = stats.select(col("path"), col("time_idx"),
      col("leadtime_idx"), col("variable"), col("stat_min"), col("stat_max"),
      col("stat_mean"), col("stat_stddev"), col("valid_percent"))
    // the pending probe runs once: the stats ride on the data rows'
    // own keys, so a retried probe can never split a COG's data rows
    // from its band statistics
    val rows = tidy
      .join(pendingTargets(targets, opts.overwrite),
        Seq("path", "time_idx", "leadtime_idx"))
      .join(statsByBand, Seq("path", "time_idx", "leadtime_idx", "variable"))
      .select(col("out_path"), col("variable"), col("y_idx"), col("y"),
        col("xs"), col("values"), col("stat_min"), col("stat_max"),
        col("stat_mean"), col("stat_stddev"), col("valid_percent"))
    val overwrite = opts.overwrite
    val compressOn = opts.compress
    val reprojectOn = opts.reproject
    val epsg = "\\d+".r.findFirstIn(crs).map(_.toInt).getOrElse(0)
    rows.repartition(col("out_path"))
      .sortWithinPartitions(col("out_path"))
      .foreachPartition { part: Iterator[org.apache.spark.sql.Row] =>
        groupedBySortedKey(part, 0).foreach { case (outPath, rs) =>
          val p = Paths.get(outPath)
          if (!Files.exists(p) || overwrite) {
            Files.createDirectories(p.getParent)
            val xs = rs.head.getSeq[Double](4)
            val ys = rs.map(r => r.getInt(2) -> r.getDouble(3)).distinct
              .sortBy(_._1).map(_._2)
            val pixel = if (xs.length > 1) math.abs(xs(1) - xs(0)) else 1.0
            val bands = rs.groupBy(_.getString(1)).toSeq.sortBy(_._1).map {
              case (vname, vrows) =>
                val grid = Array.ofDim[Double](ys.length, xs.length)
                vrows.foreach { r =>
                  val y = r.getInt(2)
                  val vals = r.getSeq[Double](5)
                  var x = 0
                  while (x < xs.length) { grid(y)(x) = vals(x); x += 1 }
                }
                val s = vrows.head
                def stat(i: Int) = if (s.isNullAt(i)) Double.NaN else s.getDouble(i)
                CogWriter.Band(vname, Map(
                  "STATISTICS_MINIMUM" -> stat(6),
                  "STATISTICS_MAXIMUM" -> stat(7),
                  "STATISTICS_MEAN" -> stat(8),
                  "STATISTICS_STDDEV" -> stat(9),
                  "STATISTICS_VALID_PERCENT" -> stat(10))) -> grid
            }
            // optional EPSG:4326 warp before the write (ref
            // generator.py:1006-1007; default off)
            val (outBands, cogOpts) =
              if (!reprojectOn)
                (bands, CogWriter.Options(
                  compress = compressOn, epsg = epsg,
                  pixelScale = (pixel, pixel), origin = (xs.min, ys.max)))
              else {
                val warped = graft.functions.Reproject.toGeographic(
                  bands.map { case (b, g) => b.name -> g },
                  xs.toArray, ys.toArray, s"EPSG:$epsg")
                val byName = bands.map { case (b, g) => b.name -> b }.toMap
                val dLon = warped.lons(1) - warped.lons(0)
                val dLat = warped.lats(0) - warped.lats(1)
                (warped.bands.map { case (n, g) => byName(n) -> g },
                  CogWriter.Options(
                    compress = compressOn, epsg = 4326,
                    pixelScale = (dLon, dLat),
                    origin = (warped.lons.head - dLon / 2,
                      warped.lats.head + dLat / 2)))
              }
            Files.write(p, CogWriter.write(outBands, cogOpts))
            // gdaladdo-parity external overview sidecar alongside the
            // COG (ref cog.py:91-104: `<name>.tif.ovr` moved next to it)
            if (cogOpts.externalOverviews &&
                cogOpts.overviewFactors.exists(f =>
                  xs.length / f > 0 && ys.length / f > 0))
              Files.write(Paths.get(outPath + ".ovr"),
                CogWriter.writeOvr(outBands, cogOpts))
          }
        }
      }
  }

  /** E1/E2: per-item asset rows as a DataFrame of (item_id, asset struct). */
  private def assetRows(inits: DataFrame, stats: DataFrame, step: Double,
                        unit: String, opts: Options): DataFrame = {
    val emptyExtra = map().cast("map<string,string>")
    val ncAsset = inits.select(col("item_id"), struct(
      lit("netcdf").as("key"),
      concat(lit("./netcdf/"), lit(opts.name), lit("/"), col("date_str"),
        lit("/"), col("ts_str"), lit(".nc")).as("href"),
      lit("application/x-netcdf").as("media_type"),
      concat(lit("Full forecast netCDF from "),
        Scalars.fmtSpace(col("ref_time"))).as("title"),
      typedLit(Seq("data")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      map(
        lit("forecast:reference_time"), Scalars.datetimeToStr(col("ref_time")),
        lit("forecast:end_time"), Scalars.datetimeToStr(col("end_time")),
        lit("forecast:leadtime_length"), col("nleadtime").cast("string"))
        .as("extra")).as("asset"))
    val thumbAsset = inits.select(col("item_id"), struct(
      lit("thumbnail").as("key"),
      concat(lit("./cogs/"), lit(opts.name), lit("/"), col("date_str"),
        lit("/"), col("item_id"), lit(".jpg")).as("href"),
      lit("image/jpeg").as("media_type"),
      lit("Thumbnail").as("title"),
      typedLit(Seq("thumbnail")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      emptyExtra.as("extra")).as("asset"))
    // E2: per-leadtime COG asset with embedded band statistics
    val validTime = Scalars.calendarAdd(col("ref_time"), lit(unit),
      col("leadtime_idx") * step)
    val perLead = stats
      .groupBy(col("path"), col("time_idx"), col("leadtime_idx"))
      .agg(sort_array(collect_list(struct(
        col("variable"), col("stat_min"), col("stat_max"), col("stat_mean"),
        col("stat_stddev"), col("valid_percent")))).as("bands"))
      .join(inits, Seq("path", "time_idx"))
      .withColumn("valid_time", validTime)
      .withColumn("cog_id",
        Scalars.cogItemId(col("item_id"), col("valid_time")))
    val cogAsset = perLead.select(col("item_id"), struct(
      concat(lit("cog_lead_"), col("leadtime_idx").cast("string")).as("key"),
      concat(lit("./cogs/"), lit(opts.name), lit("/"), col("date_str"),
        lit("/"), col("cog_id"), lit(".tif")).as("href"),
      lit("image/tiff; application=geotiff; profile=cloud-optimized")
        .as("media_type"),
      concat(lit("Forecast for "), Scalars.fmtSpace(col("valid_time")))
        .as("title"),
      typedLit(Seq("data")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      map(
        lit("custom:leadtime"), col("leadtime_idx").cast("string"),
        lit("custom:valid_time"), Scalars.datetimeToStr(col("valid_time")),
        lit("forecast:bands"), to_json(col("bands"))).as("extra")).as("asset"))
    ncAsset.unionByName(thumbAsset).unionByName(cogAsset)
  }

  /** E3/J6: binaryFile manifest over everything written under dataPath,
    * joined to asset hrefs — fills size + the blockwise digest-of-digest
    * multihash (F14). Assets whose file was not produced (stacOnly, COGs
    * pending) keep null checksum / -1 size.
    */
  private def enrichFileInfo(spark: SparkSession, assets: DataFrame,
                             opts: Options): DataFrame = {
    val ncDir = Paths.get(s"${opts.dataPath}/netcdf")
    val cogDir = Paths.get(s"${opts.dataPath}/cogs")
    val globs = Seq(ncDir, cogDir).filter(Files.exists(_))
      .map(d => s"$d/*/*/*")
    if (globs.isEmpty) return assets
    val manifest = spark.read.format("binaryFile").load(globs: _*)
      .select(
        regexp_replace(col("path"), lit(s"^file:${opts.dataPath}/"), lit("./"))
          .as("href"),
        col("length").as("fsize"),
        Scalars.blockMultihashMd5(col("content")).as("fchecksum"))
    assets
      .select(col("item_id"), col("asset.*"))
      .join(manifest, Seq("href"), "left")
      .select(col("item_id"), struct(
        col("key"), col("href"), col("media_type"), col("title"), col("roles"),
        coalesce(col("fchecksum"), col("checksum")).as("checksum"),
        coalesce(col("fsize"), col("size")).as("size"),
        col("extra")).as("asset"))
  }

  private def buildItems(spark: SparkSession, inits: DataFrame,
                         assets: DataFrame, geoBbox: Seq[Double],
                         geometry: String, hemisphere: String,
                         opts: Options) = {
    import spark.implicits._
    val base = map(
      lit("forecast:reference_time"), Scalars.datetimeToStr(col("ref_time")),
      lit("forecast:end_time"), Scalars.datetimeToStr(col("end_time")),
      lit("forecast:leadtime_length"), col("nleadtime").cast("string"))
    val props =
      if (hemisphere.isEmpty) base
      else map_concat(base, map(lit("custom:hemisphere"), lit(hemisphere)))
    // comparator array_sort: structs holding a MAP have no natural
    // ordering, but the asset key alone is a deterministic sort
    val byKey = (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
      when(l.getField("key") < r.getField("key"), -1)
        .when(l.getField("key") > r.getField("key"), 1).otherwise(0)
    inits
      .join(assets.groupBy(col("item_id"))
        .agg(array_sort(collect_list(col("asset")), byKey).as("assets")),
        Seq("item_id"))
      .select(
        col("item_id").as("id"),
        lit(opts.name).as("collection"),
        lit(geometry).as("geometry"),
        typedLit(geoBbox).as("bbox"),
        Scalars.datetimeToStr(col("ref_time")).as("datetime"),
        props.as("properties"),
        col("assets"))
      .as[StacItem]
  }
}

/** K3 — JPEG thumbnail encoder: values → blue-white-red diverging LUT →
  * ImageIO JPEG bytes (ref generator.py:1011-1033; pixel-exact parity
  * with matplotlib is out of contract — it's a lossy viz artifact).
  */
object Thumbnail {
  def jpeg(grid: Array[Array[Double]]): Array[Byte] = {
    val h = grid.length; val w = if (h == 0) 0 else grid(0).length
    val img = new java.awt.image.BufferedImage(
      math.max(w, 1), math.max(h, 1), java.awt.image.BufferedImage.TYPE_INT_RGB)
    val flat = grid.flatten.filterNot(_.isNaN)
    val (mn, mx) =
      if (flat.isEmpty) (0.0, 1.0)
      else (flat.min, if (flat.max == flat.min) flat.min + 1 else flat.max)
    for (y <- 0 until h; x <- 0 until w) {
      val v = grid(y)(x)
      val t = if (v.isNaN) 0.5 else (v - mn) / (mx - mn)
      // RdBu_r analogue: 0 → blue, 0.5 → white, 1 → red
      val (r, g, b) =
        if (t < 0.5) {
          val u = t * 2
          ((u * 255).toInt, (u * 255).toInt, 255)
        } else {
          val u = (t - 0.5) * 2
          (255, ((1 - u) * 255).toInt, ((1 - u) * 255).toInt)
        }
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }
}
