package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.functions.Scalars.floor2dp
import graft.source.{NetCdfFixture, NetCdfSource}

/** S1/P1/P2/P3 + A2 through the NetCDF source (rows-only: inputs are
  * generated .nc fixtures, not the shared parquet tables, so DuckDB has
  * no oracle path — exact values are pinned by NetCdfSpec instead).
  */
object NetCdfQueries {

  // q121: parquet-ref store written once per JVM (see the note there)
  private val pqWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  import graft.Work.{stableDir => stableWork, retryingFresh, oracleDump}

  private[graft] def fixtureGlob(): String =
    NetCdfFixture.writeFiles(stableWork("fixtures").resolve("nc"), n = 2)

  private def fixtureGlobHdf5(): String =
    NetCdfFixture.writeFiles(stableWork("fixtures").resolve("nc4"), n = 2,
      hdf5 = true)

  private def manifestOracle(tag: String): String =
    s"""SELECT regexp_extract(path, '([^/]+)$$', 1) AS file, variable, ndim,
       |  dims, dtype, n_values, units, crs, is_band
       |FROM read_parquet('/tmp/graft-oracle/$tag/*.parquet')
       |ORDER BY file, variable""".stripMargin

  private def manifestQuery(s: org.apache.spark.sql.SparkSession,
                            tag: String, glob: String) = {
    // inputs are generated .nc files, so the raw per-variable manifest is
    // materialized once (Work.oracleDump) and BOTH engines project from
    // it — the decode itself is pinned by NetCdfSpec/Hdf5Spec
    val dumped = oracleDump(s, tag, NetCdfSource.manifest(s, glob), glob)
    dumped.select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("ndim"), col("dims"), col("dtype"),
      col("n_values"), col("units"), col("crs"), col("is_band"))
  }

  /** Metadata-only first pass: per-(file, variable) manifest with coord
    * resolution + 4-D band flag (ref get_forecast_info).
    */
  val manifest = QueryDef("q45_netcdf_manifest", manifestOracle("q45_manifest")) {
    (s, _) => manifestQuery(s, "q45_manifest", fixtureGlob())
  }

  /** S1 completion — the same manifest over netCDF-4/HDF5 renderings of
    * the fixture (the reference's real input format, generator.py:485,
    * 969-977): HDF5 structure walk + dimension-scale resolution feed the
    * identical tidy metadata.
    */
  val manifestHdf5 = QueryDef("q76_netcdf4_manifest",
    manifestOracle("q76_manifest")) {
    (s, _) => manifestQuery(s, "q76_manifest", fixtureGlobHdf5())
  }

  private def bandStatsOracle(tag: String): String =
    s"""SELECT file, variable, time_idx, leadtime_idx,
       |  min(CASE WHEN isnan(v) THEN NULL ELSE v END) AS stat_min,
       |  max(CASE WHEN isnan(v) THEN NULL ELSE v END) AS stat_max,
       |  round(avg(CASE WHEN isnan(v) THEN NULL ELSE v END), 6) AS stat_mean,
       |  round(stddev_pop(CASE WHEN isnan(v) THEN NULL ELSE v END), 6)
       |    AS stat_stddev,
       |  floor(10000.0 * count(CASE WHEN NOT isnan(v) THEN 1 END)
       |    / count(*)) / 100.0 AS valid_percent
       |FROM (SELECT file, variable, time_idx, leadtime_idx,
       |        unnest(vals) AS v
       |      FROM read_parquet('/tmp/graft-oracle/$tag/*.parquet'))
       |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin

  /** The flagship A2 shape over the real source: per (file, variable,
    * leadtime) band statistics — min/max/mean/stddev_pop, NaN-skipped,
    * valid_percent floored to 2dp (ref utils.py:213-259). The oracle
    * re-aggregates the dumped tidy scanlines in DuckDB (unnest +
    * stddev_pop), independently re-deriving the vec_stats fold.
    */
  val bandStats = QueryDef("q46_netcdf_band_stats",
    bandStatsOracle("q46_tidy")) { (s, _) =>
    bandStatsQuery(s, "q46_tidy", fixtureGlob())
  }

  /** The same statistics over netCDF-4/HDF5 inputs — chunked +
    * shuffle + deflate payload decode on the scan path.
    */
  val bandStatsHdf5 = QueryDef("q77_netcdf4_band_stats",
    bandStatsOracle("q77_tidy")) { (s, _) =>
    bandStatsQuery(s, "q77_tidy", fixtureGlobHdf5())
  }

  /** S1 completion for APPENDABLE archives: the same statistics over
    * netCDF-4 files with an UNLIMITED time dimension and the v4
    * Extensible Array chunk index (h5py `maxshape=(None,…)` — the
    * layout a forecast archive grows into). 34 per-timestep chunks per
    * variable walk every EA tier (index-block elements, inlined data
    * blocks, a super block, paged data blocks) on the scan path.
    */
  val bandStatsUnlimited = QueryDef("q82_netcdf4_unlimited_band_stats",
    bandStatsOracle("q82_tidy")) { (s, _) =>
    bandStatsQuery(s, "q82_tidy",
      NetCdfFixture.writeFilesUnlimited(
        stableWork("fixtures").resolve("ncea")))
  }

  /** The same statistics over hdf5plugin-filtered archives — one file
    * per registered filter (bitshuffle+lz4 32008, lz4 32004, zstd
    * 32015), so the scan path decodes all three stream formats in one
    * query.
    */
  val bandStatsPluginFilters = QueryDef("q86_netcdf4_filtered_band_stats",
    bandStatsOracle("q86_tidy")) { (s, _) =>
    val base = stableWork("fixtures")
    // r11: + szip (filter 4, the NASA EOS staple) over binary16
    // payloads — the CCSDS coder on the DSv2 scan path
    val globs = Seq("bitshuffle-lz4", "lz4", "zstd", "szip").map(rf =>
      NetCdfFixture.writeFilesFiltered(base.resolve(s"ncf-$rf"), rf))
    bandStatsQuery(s, "q86_tidy", globs: _*)
  }

  /** The same statistics over archives whose datasets reference a
    * COMMITTED (shared) float64 datatype — the shared-message resolution
    * path through the DSv2 scan end to end — plus Extensible-Array
    * files whose first data blocks page straight from the index block.
    */
  val bandStatsShared = QueryDef("q88_netcdf4_shared_band_stats",
    bandStatsOracle("q88_tidy")) { (s, _) =>
    bandStatsQuery(s, "q88_tidy",
      NetCdfFixture.writeFilesShared(stableWork("fixtures").resolve("ncsh")))
  }

  private def bandStatsQuery(s: org.apache.spark.sql.SparkSession,
                             tag: String, globs: String*) = {
    // through the DataSource V2 format, the one tidy reader
    // (NetCdfSource.tidy and Preprocess scan through it too)
    val tidy = s.read.format("netcdf").load(globs: _*)
    oracleDump(s, tag, tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("time_idx"), col("leadtime_idx"),
      col("values").as("vals")), globs.mkString(","))
    // vec_stats folds each scanline array into six scalars INSIDE
    // whole-stage codegen, so the exchange carries one small row per
    // scanline instead of one row per grid cell (the previous
    // explode-then-aggregate shape multiplied shuffle rows by row width —
    // ~432× on a real EASE grid, fatal at 100 TB). stddev_pop is
    // reassembled from (Σv, Σv², n): E[x²]−E[x]² with a 0-clamp, matching
    // numpy's ddof=0 to float tolerance (NetCdfSpec pins 1e-12).
    val st = graft.functions.VecStatsExpr.vecStats(col("values"))
    val partials = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("time_idx"), col("leadtime_idx"), st.as("st"))
    val g = partials
      .groupBy(col("file"), col("variable"), col("time_idx"), col("leadtime_idx"))
      .agg(
        // all-NaN scanlines carry vmin/vmax = NaN; guard to null so
        // min()/max() skip them (Spark orders NaN greater than any
        // double, so an unguarded max() would surface NaN)
        min(when(col("st.n_valid") > 0, col("st.vmin"))).as("stat_min"),
        max(when(col("st.n_valid") > 0, col("st.vmax"))).as("stat_max"),
        sum(col("st.vsum")).as("sv"), sum(col("st.vsumsq")).as("sv2"),
        sum(col("st.n_valid")).as("nv"), sum(col("st.n_total")).as("nt"))
    val mean = col("sv") / col("nv")
    g.select(col("file"), col("variable"), col("time_idx"), col("leadtime_idx"),
      col("stat_min"), col("stat_max"),
      // 6dp rounding on both sides absorbs summation-order float fuzz
      // between the vec_stats fold and DuckDB's Welford accumulation
      round(mean, 6).as("stat_mean"),
      // guard nv=0 to NULL (not 0.0 via NULL-skipping greatest) so a fully
      // masked slice reports NULL stddev beside its NULL min/max/mean
      when(col("nv") > 0,
        round(sqrt(greatest(col("sv2") / col("nv") - mean * mean, lit(0.0))), 6))
        .as("stat_stddev"), // numpy std is ddof=0
      floor2dp(col("nv") * 100.0 / col("nt")).as("valid_percent"))
  }

  /** X1/X2 — the full preprocess pipeline end-to-end: fixture .nc files →
    * config registry → slices (K1) → thumbnails (K3/W3) → band stats (A2)
    * → asset rows + file-info enrichment (E1/E2/E3) → STAC catalog (K4) →
    * rescan (S4). Returns a per-item asset/property summary.
    */
  val preprocessE2e = QueryDef("q47_preprocess_e2e",
    """SELECT id, collection, CAST(len(assets) AS BIGINT) AS n_assets,
      |  properties['forecast:leadtime_length'][1] AS leadtime_length,
      |  properties['custom:hemisphere'][1] AS hemisphere
      |FROM read_parquet('/tmp/graft-oracle/q47_items/*.parquet')
      |ORDER BY id""".stripMargin) { (s, _) =>
    // stable workdir: repeated invocations (bench warmup + timed passes)
    // hit the pipeline's OWN idempotence - config validated, existing
    // slices/COGs skipped (P8), items anti-joined away (J2) - which is
    // both faster and a continuous exercise of the incremental path
    val work = stableWork("q47")
    val res = retryingFresh(work) {
      val glob = graft.source.NetCdfFixture.writeFiles(work.resolve("input"), n = 2)
      graft.pipeline.Preprocess.run(s, glob,
        graft.pipeline.Preprocess.Options(
          name = "sic_north", dataPath = work.resolve("data").toString))
    }
    // the rescanned items (fixture-derived, sf-independent) are dumped
    // with their nested assets/properties so DuckDB independently
    // recomputes the asset count and map extractions
    val items = oracleDump(s, "q47_items",
      graft.sink.StacJsonSink.readItems(s, res.catalogRoot)
        .select(col("id"), col("collection"), col("assets"), col("properties")),
      res.catalogRoot)
    items
      .select(col("id"), col("collection"),
        size(col("assets")).cast("long").as("n_assets"),
        element_at(col("properties"), "forecast:leadtime_length")
          .as("leadtime_length"),
        element_at(col("properties"), "custom:hemisphere").as("hemisphere"))
  }

  /** S9/J3/J4/K6 — ingest of a preprocess-produced catalog against the
    * dry-run pgSTAC client, pre-seeded so one item already "exists":
    * returns the load/skip accounting the reference logs
    * (dataloader.py:138-156). The oracle recomputes that accounting
    * INDEPENDENTLY: the catalog manifest (items + collections) and the
    * pre-seeded key set are dumped to parquet, and DuckDB re-derives
    * loaded/skipped via its own EXISTS anti/semi joins — so the J3 skip
    * logic is cross-checked, not just counted twice.
    */
  val ingestDryRun = QueryDef("q48_ingest_dry_run",
    """WITH items AS (
      |  SELECT * FROM read_parquet('/tmp/graft-oracle/q48_items/*.parquet')),
      |ex AS (
      |  SELECT * FROM read_parquet('/tmp/graft-oracle/q48_existing/*.parquet')),
      |colls AS (
      |  SELECT * FROM read_parquet('/tmp/graft-oracle/q48_colls/*.parquet'))
      |SELECT
      |  (SELECT count(*) FROM colls WHERE NOT already_exists)
      |    AS collections_loaded,
      |  (SELECT count(*) FROM items i WHERE NOT EXISTS (SELECT 1 FROM ex e
      |     WHERE e.collection = i.collection AND e.id = i.id)) AS items_loaded,
      |  (SELECT count(*) FROM colls WHERE already_exists)
      |    AS collections_skipped,
      |  (SELECT count(*) FROM items i WHERE EXISTS (SELECT 1 FROM ex e
      |     WHERE e.collection = i.collection AND e.id = i.id)) AS items_skipped
      |""".stripMargin) { (s, _) =>
    import s.implicits._
    val work = stableWork("q48")
    val res = retryingFresh(work) {
      val glob = graft.source.NetCdfFixture.writeFiles(work.resolve("input"), n = 2)
      graft.pipeline.Preprocess.run(s, glob,
        graft.pipeline.Preprocess.Options(
          name = "sic_north", dataPath = work.resolve("data").toString,
          stacOnly = true))
    }
    val existingItem = graft.sink.StacJsonSink.readItems(s, res.catalogRoot)
      .collect().map(it => (it.collection, it.id)).sorted.take(1).toSet
    // pre-seed one EXISTING collection too (first in id order), so the
    // collection half of the skip logic is exercised against a real
    // anti-join on both engines — not counted from a constant false
    val existingColl = graft.sink.StacJsonSink.readCollections(s, res.catalogRoot)
      .collect().map(_.id).sorted.take(1).toSet
    oracleDump(s, "q48_items",
      graft.sink.StacJsonSink.readItems(s, res.catalogRoot)
        .select(col("collection"), col("id")), res.catalogRoot)
    oracleDump(s, "q48_existing",
      existingItem.toSeq.toDF("collection", "id"), res.catalogRoot)
    oracleDump(s, "q48_colls",
      graft.sink.StacJsonSink.readCollections(s, res.catalogRoot)
        .select(col("id"),
          col("id").isin(existingColl.toSeq: _*).as("already_exists")),
      res.catalogRoot)
    val ing = graft.pipeline.Ingest.run(s, res.catalogRoot,
      new graft.pipeline.Ingest.DryRunClient(existingColl, existingItem))
    Seq((ing.collectionsLoaded, ing.itemsLoaded, ing.collectionsSkipped,
      ing.itemsSkipped)).toDF(
      "collections_loaded", "items_loaded", "collections_skipped",
      "items_skipped")
  }

  /** S7 — Zarr v2 store scan end-to-end: per-array manifest facts joined
    * to chunk-parallel value statistics, the vec_stats fold keeping one
    * small row per CHUNK through the shuffle. The oracle re-aggregates
    * the dumped chunk values and re-joins the dumped manifest in DuckDB;
    * exact cell values are pinned by ZarrSpec.
    */
  val zarrScan = QueryDef("q67_zarr_scan",
    """SELECT m."array", m.dtype, m.compressor, m.n_values, m.n_chunks,
      |  s.n_cells, s.vmin, s.vmax, s.vsum
      |FROM read_parquet('/tmp/graft-oracle/q67_manifest/*.parquet') m
      |JOIN (SELECT "array", count(*) AS n_cells, min(v) AS vmin,
      |        max(v) AS vmax, round(sum(v), 6) AS vsum
      |      FROM (SELECT "array", unnest(vals) AS v
      |            FROM read_parquet('/tmp/graft-oracle/q67_vals/*.parquet'))
      |      GROUP BY "array") s USING ("array")
      |ORDER BY m."array"""".stripMargin) { (s, _) =>
    val store = stableWork("fixtures").resolve("zarr")
    if (!java.nio.file.Files.exists(store.resolve(".zgroup"))) {
      graft.source.ZarrFixture.write(store, "sic_mean", Seq(40, 32),
        Seq(16, 16), value = c => c.head * 0.5 + c(1) * 0.01)
      graft.source.ZarrFixture.write(store, "sic_count", Seq(40, 32),
        Seq(16, 16), dtype = "<i4", compress = false,
        value = c => (c.head + c(1)).toDouble)
    }
    val perChunk = Seq("sic_mean", "sic_count").map { name =>
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), col("values").as("vals"))
    }.reduce(_ unionByName _)
    oracleDump(s, "q67_vals", perChunk, store.toString)
    val statsByArray = Seq("sic_mean", "sic_count").map { name =>
      val st = graft.functions.VecStatsExpr.vecStats(col("values"))
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), st.as("st"))
        .groupBy(col("array"))
        .agg(sum(col("st.n_total")).as("n_cells"),
          min(col("st.vmin")).as("vmin"), max(col("st.vmax")).as("vmax"),
          round(sum(col("st.vsum")), 6).as("vsum"))
    }.reduce(_ unionByName _)
    val man = oracleDump(s, "q67_manifest",
      graft.source.ZarrSource.manifest(s, store.toString)
        .select(col("array"), col("dtype"), col("compressor"),
          col("n_values"), col("n_chunks")), store.toString)
    man.join(statsByArray, Seq("array"))
  }

  /** S7 completion — the same scan over a Zarr V3 store (zarr-python's
    * current default format): zarr.json metadata, c/-prefixed nested
    * chunk keys, zstd and gzip codec chains. Same oracle shape as q67;
    * format coverage is what's new, so the payload values match v2's
    * and only the codec/key plumbing differs.
    */
  val zarrV3Scan = QueryDef("q80_zarr_v3_scan",
    """SELECT m."array", m.dtype, m.compressor, m.n_values, m.n_chunks,
      |  s.n_cells, s.vmin, s.vmax, s.vsum
      |FROM read_parquet('/tmp/graft-oracle/q80_manifest/*.parquet') m
      |JOIN (SELECT "array", count(*) AS n_cells, min(v) AS vmin,
      |        max(v) AS vmax, round(sum(v), 6) AS vsum
      |      FROM (SELECT "array", unnest(vals) AS v
      |            FROM read_parquet('/tmp/graft-oracle/q80_vals/*.parquet'))
      |      GROUP BY "array") s USING ("array")
      |ORDER BY m."array"""".stripMargin) { (s, _) =>
    // r11: + a standalone-crc32c-codec array (dir versioned so stale
    // cached stores regenerate)
    val store = stableWork("fixtures").resolve("zarr3b")
    if (!java.nio.file.Files.exists(store.resolve("zarr.json"))) {
      graft.source.ZarrFixture.writeV3(store, "sic_mean", Seq(40, 32),
        Seq(16, 16), codec = "zstd", value = c => c.head * 0.5 + c(1) * 0.01)
      graft.source.ZarrFixture.writeV3(store, "sic_count", Seq(40, 32),
        Seq(16, 16), dtype = "<i4", codec = "gzip",
        value = c => (c.head + c(1)).toDouble)
      // zarr-python 3 profile with a trailing checksum codec; dyadic
      // values so the oracle compare is float-exact
      graft.source.ZarrFixture.writeV3(store, "sic_crc", Seq(40, 32),
        Seq(16, 16), codec = "zstd", withCrc32c = true,
        value = c => c.head * 0.25 + c(1) * 0.125)
    }
    val v3Arrays = Seq("sic_mean", "sic_count", "sic_crc")
    val perChunk = v3Arrays.map { name =>
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), col("values").as("vals"))
    }.reduce(_ unionByName _)
    oracleDump(s, "q80_vals", perChunk, store.toString)
    val statsByArray = v3Arrays.map { name =>
      val st = graft.functions.VecStatsExpr.vecStats(col("values"))
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), st.as("st"))
        .groupBy(col("array"))
        .agg(sum(col("st.n_total")).as("n_cells"),
          min(col("st.vmin")).as("vmin"), max(col("st.vmax")).as("vmax"),
          round(sum(col("st.vsum")), 6).as("vsum"))
    }.reduce(_ unionByName _)
    val man = oracleDump(s, "q80_manifest",
      graft.source.ZarrSource.manifest(s, store.toString)
        .select(col("array"), col("dtype"), col("compressor"),
          col("n_values"), col("n_chunks")), store.toString)
    man.join(statsByArray, Seq("array"))
  }

  /** S7 completion — the zarr v2 variants real stores carry: NESTED
    * chunk layout (dimension_separator "/", the cloud-store form), a
    * numcodecs delta+shuffle filter chain, and a float16 array (the
    * ML-embedding dtype). Same manifest + chunk-stats oracle shape as
    * q67; the decode edges are what's new.
    */
  val zarrVariantsScan = QueryDef("q84_zarr_variants_scan",
    """SELECT m."array", m.dtype, m.compressor, m.n_values, m.n_chunks,
      |  s.n_cells, s.vmin, s.vmax, s.vsum
      |FROM read_parquet('/tmp/graft-oracle/q84_manifest/*.parquet') m
      |JOIN (SELECT "array", count(*) AS n_cells, min(v) AS vmin,
      |        max(v) AS vmax, round(sum(v), 6) AS vsum
      |      FROM (SELECT "array", unnest(vals) AS v
      |            FROM read_parquet('/tmp/graft-oracle/q84_vals/*.parquet'))
      |      GROUP BY "array") s USING ("array")
      |ORDER BY m."array"""".stripMargin) { (s, _) =>
    val store = stableWork("fixtures").resolve("zarrv")
    if (!java.nio.file.Files.exists(store.resolve(".zgroup"))) {
      graft.source.ZarrFixture.write(store, "sic_nested", Seq(40, 32),
        Seq(16, 16), sep = "/", value = c => c.head * 0.5 + c(1) * 0.01)
      graft.source.ZarrFixture.write(store, "sic_delta", Seq(40, 32),
        Seq(16, 16), filters = Seq("delta", "shuffle"),
        value = c => (c.head + c(1)).toDouble)
      // binary16-representable values so the oracle compare is exact
      graft.source.ZarrFixture.write(store, "emb_f16", Seq(40, 32),
        Seq(16, 16), dtype = "<f2",
        value = c => c.head * 0.25 - c(1) * 0.5)
    }
    val arrays = Seq("sic_nested", "sic_delta", "emb_f16")
    val perChunk = arrays.map { name =>
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), col("values").as("vals"))
    }.reduce(_ unionByName _)
    oracleDump(s, "q84_vals", perChunk, store.toString)
    val statsByArray = arrays.map { name =>
      val st = graft.functions.VecStatsExpr.vecStats(col("values"))
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), st.as("st"))
        .groupBy(col("array"))
        .agg(sum(col("st.n_total")).as("n_cells"),
          min(col("st.vmin")).as("vmin"), max(col("st.vmax")).as("vmax"),
          round(sum(col("st.vsum")), 6).as("vsum"))
    }.reduce(_ unionByName _)
    val man = oracleDump(s, "q84_manifest",
      graft.source.ZarrSource.manifest(s, store.toString)
        .select(col("array"), col("dtype"), col("compressor"),
          col("n_values"), col("n_chunks")), store.toString)
    man.join(statsByArray, Seq("array"))
  }

  /** S7 long-tail — the numcodecs v2 configs beyond the zarr-python
    * defaults: bare zstd and lz4 compressor frames, a fixedscaleoffset
    * int-packed array, and quantize chained before delta under zlib.
    * Same manifest + chunk-stats oracle shape as q67/q84.
    */
  val zarrNumcodecsScan = QueryDef("q89_zarr_numcodecs_scan",
    """SELECT m."array", m.dtype, m.compressor, m.n_values, m.n_chunks,
      |  s.n_cells, s.vmin, s.vmax, s.vsum
      |FROM read_parquet('/tmp/graft-oracle/q89_manifest/*.parquet') m
      |LEFT JOIN (SELECT "array", count(*) AS n_cells, min(v) AS vmin,
      |        max(v) AS vmax, round(sum(v), 6) AS vsum
      |      FROM (SELECT "array", unnest(vals) AS v
      |            FROM read_parquet('/tmp/graft-oracle/q89_vals/*.parquet'))
      |      GROUP BY "array") s USING ("array")
      |ORDER BY m."array"""".stripMargin) { (s, _) =>
    // r10b: + the Fortran-order array; r11: + a vlen-utf8 object-dtype
    // label axis and a RAW datetime64[ns] time axis, both listed with
    // NULL stats through the LEFT join (decodes pinned by ZarrSpec) —
    // dir versioned so stale cached stores from earlier fixture shapes
    // never shadow the new arrays
    val store = stableWork("fixtures").resolve("zarrnc-r11c")
    if (!java.nio.file.Files.exists(store.resolve(".zgroup"))) {
      graft.source.ZarrFixture.writeVlenUtf8(store, "member_label",
        Seq("control", "perturbed-01", "perturbed-02", "perturbed-03"),
        chunk = 3)
      graft.source.ZarrFixture.writeInt64(store, "time_axis",
        (0 until 7).map(i => if (i == 5) Long.MinValue
          else 1735689600000000000L + i * 21600L * 1000000000L),
        chunk = 3, dtype = "<M8[ns]", shuffle = true)
      graft.source.ZarrFixture.write(store, "sic_zstd", Seq(40, 32),
        Seq(16, 16), numCodec = Some("zstd"),
        value = c => c.head * 0.5 + c(1) * 0.01)
      graft.source.ZarrFixture.write(store, "sic_lz4", Seq(40, 32),
        Seq(16, 16), numCodec = Some("lz4"),
        value = c => (c.head + c(1)).toDouble)
      // integer values: fixedscaleoffset (scale 1, offset 1000, <i4
      // packing) and quantize (3 digits) round-trip exactly
      graft.source.ZarrFixture.write(store, "sic_fso", Seq(40, 32),
        Seq(16, 16), filters = Seq("fixedscaleoffset"),
        value = c => (c.head * 100 + c(1)).toDouble)
      graft.source.ZarrFixture.write(store, "sic_quant", Seq(40, 32),
        Seq(16, 16), filters = Seq("quantize", "delta"),
        value = c => (c.head * 3 + c(1)).toDouble)
      graft.source.ZarrFixture.write(store, "sic_forder", Seq(40, 32),
        Seq(16, 16), fortranOrder = true,
        value = c => c.head * 0.25 + c(1) * 0.125)
    }
    val arrays =
      Seq("sic_zstd", "sic_lz4", "sic_fso", "sic_quant", "sic_forder")
    val perChunk = arrays.map { name =>
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), col("values").as("vals"))
    }.reduce(_ unionByName _)
    oracleDump(s, "q89_vals", perChunk, store.toString)
    val statsByArray = arrays.map { name =>
      val st = graft.functions.VecStatsExpr.vecStats(col("values"))
      graft.source.ZarrSource.read(s, store.toString, name)
        .select(lit(name).as("array"), st.as("st"))
        .groupBy(col("array"))
        .agg(sum(col("st.n_total")).as("n_cells"),
          min(col("st.vmin")).as("vmin"), max(col("st.vmax")).as("vmax"),
          round(sum(col("st.vsum")), 6).as("vsum"))
    }.reduce(_ unionByName _)
    val man = oracleDump(s, "q89_manifest",
      graft.source.ZarrSource.manifest(s, store.toString)
        .select(col("array"), col("dtype"), col("compressor"),
          col("n_values"), col("n_chunks")), store.toString)
    man.join(statsByArray, Seq("array"), "left")
  }

  /** S1 completion for USER-DEFINED datatypes: a CF flag variable stored
    * as a netCDF-4 ENUM (int8 base) — the type class libhdf5 resolves
    * transparently for the reference (generator.py:485) — scanned
    * through the standard DSv2 tidy path with the variable filter
    * pushed down, its category vocabulary resolved by the metadata-only
    * [[NetCdfSource.enumLabels]] pass and broadcast-joined onto the
    * exploded codes: per-(file, category) cell counts. The oracle
    * re-derives the counts and the label join independently in DuckDB
    * from the dumped scanlines + vocabulary.
    */
  val enumMaskCounts = QueryDef("q97_netcdf4_enum_mask",
    """SELECT s.file, l.label, s.code, count(*) AS cnt
      |FROM (SELECT file, variable, CAST(unnest(vals) AS BIGINT) AS code
      |      FROM read_parquet('/tmp/graft-oracle/q97_codes/*.parquet')) s
      |JOIN read_parquet('/tmp/graft-oracle/q97_labels/*.parquet') l
      |  ON l.file = s.file AND l.variable = s.variable AND l.code = s.code
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
    val glob = NetCdfFixture.writeFilesEnum(
      stableWork("fixtures").resolve("ncenum"))
    val tidy = s.read.format("netcdf").load(glob)
      .filter(col("variable") === "surface_mask")
    val codes = oracleDump(s, "q97_codes", tidy.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("variable"), col("values").as("vals")), glob)
      .select(col("file"), col("variable"),
        explode(col("vals")).as("v"))
      .select(col("file"), col("variable"), col("v").cast("long").as("code"))
    val labels = oracleDump(s, "q97_labels",
      NetCdfSource.enumLabels(s, glob).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("variable"), col("code"), col("label")), glob)
    // the vocabulary is a handful of rows per variable — broadcast, so
    // the exploded cell stream never shuffles for the join
    codes.join(broadcast(labels), Seq("file", "variable", "code"))
      .groupBy(col("file"), col("label"), col("code"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** S1 completion for COMPOUND datatypes: netCDF-4/HDF5 files whose
    * payload is a {lo, hi} float64 record dataset (the coordinate-
    * bounds/user-record shape libhdf5 reads transparently,
    * generator.py:485), decoded per member through the distributed
    * compound scan and re-aggregated per file. The oracle re-derives
    * the interval stats from the dumped per-record rows in DuckDB.
    */
  val compoundBounds = QueryDef("q98_netcdf4_compound_bounds",
    """SELECT file, count(*) AS n_rec,
      |  min(lo) AS first_lo, max(hi) AS last_hi,
      |  round(sum(hi - lo), 6) AS total_span
      |FROM read_parquet('/tmp/graft-oracle/q98_bounds/*.parquet')
      |GROUP BY file ORDER BY file""".stripMargin) { (s, _) =>
    val glob = NetCdfFixture.writeFilesCompound(
      stableWork("fixtures").resolve("nccomp"))
    val recs = NetCdfSource.compoundRecords(s, glob, "time_bnds",
      Seq("lo", "hi"))
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("rec_idx"),
        col("member_values").getItem(0).as("lo"),
        col("member_values").getItem(1).as("hi"))
    oracleDump(s, "q98_bounds", recs, glob)
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rec"),
        min(col("lo")).as("first_lo"), max(col("hi")).as("last_hi"),
        round(sum(col("hi") - col("lo")), 6).as("total_span"))
  }

  /** S1 completion for RAGGED data: a netCDF-4 VARIABLE-LENGTH
    * (class 9) variable — h5py `vlen_dtype(float64)`, per-cell
    * global-heap payloads — scanned distributed through the same
    * per-file positioned-read path as every other netCDF scan. The
    * oracle re-derives per-file row counts, element counts and the
    * exact micro-quantized sum from the dumped ragged rows.
    */
  val vlenRagged = QueryDef("q108_netcdf4_vlen_ragged",
    """SELECT file, count(*) AS n_cells,
      |  CAST(sum(len(vals)) AS BIGINT) AS n_elems,
      |  CAST(max(len(vals)) AS BIGINT) AS max_len,
      |  CAST(sum(CASE WHEN len(vals) = 0 THEN 0
      |    ELSE (SELECT CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT)
      |          FROM unnest(vals) AS t(v)) END) AS BIGINT) AS sum_u
      |FROM read_parquet('/tmp/graft-oracle/q108_rows/*.parquet')
      |GROUP BY file ORDER BY file""".stripMargin) { (s, _) =>
    val glob = NetCdfFixture.writeFilesVlen(
      stableWork("fixtures").resolve("ncvlen"))
    val rows = NetCdfSource.vlenRows(s, glob, "obs_depths")
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("cell_idx"), col("vals"))
    oracleDump(s, "q108_rows", rows, glob)
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_cells"),
        sum(size(col("vals"))).cast("long").as("n_elems"),
        max(size(col("vals"))).cast("long").as("max_len"),
        coalesce(sum(expr(
          "aggregate(vals, 0L, (acc, v) -> acc + CAST(floor(v * 1e6) AS BIGINT))")),
          lit(0L)).as("sum_u"))
  }

  /** R1 — block-mean regrid (2×2 → 1 area-average downsample, the
    * regrid-to-coarser-model step): cells map to target cells by index
    * halving, NaNs drop out, and each target carries the valid count +
    * the exact nano-quantized sum so the cross-engine hash is integer
    * arithmetic. The Spark plan keeps the shuffle small: map-side
    * partial aggregation collapses each source partition's cells to
    * target-cell partials before the exchange, so the wire carries one
    * row per TARGET cell — the explode never crosses the shuffle.
    */
  val regridBlockMean = QueryDef("q103_regrid_blockmean",
    """SELECT file, variable, leadtime_idx,
      |  y_idx // 2 AS ty, x_idx // 2 AS tx,
      |  count(*) AS n_valid,
      |  CAST(sum(CAST(floor(v * 1e9) AS BIGINT)) AS BIGINT) AS sum_u
      |FROM read_parquet('/tmp/graft-oracle/q103_cells/*.parquet')
      |WHERE NOT isnan(v)
      |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5""".stripMargin) {
    (s, _) =>
    val glob = fixtureGlob()
    val tidy = s.read.format("netcdf").load(glob)
    val cells = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("leadtime_idx"), col("y_idx"),
      posexplode(col("values")).as(Seq("x_idx", "v")))
    oracleDump(s, "q103_cells", cells, glob)
    cells.filter(!isnan(col("v")))
      .groupBy(col("file"), col("variable"), col("leadtime_idx"),
        (col("y_idx") / 2).cast("int").as("ty"),
        (col("x_idx") / 2).cast("int").as("tx"))
      .agg(count(lit(1)).as("n_valid"),
        sum(floor(col("v") * 1e9).cast("long")).as("sum_u"))
  }

  /** R2 — bilinear sampling at arbitrary fractional grid coordinates
    * (the regrid-to-finer / point-extraction step): a deterministic
    * 5×5 point set per band gathers its 4 neighbors WITHOUT exploding
    * the grid — two joins against whole scanline ROWS (y0 and y1), the
    * x-neighbors picked by `element_at` inside the row. Points are tiny
    * → both joins broadcast; the big cell relation is never shuffled.
    * Points with any NaN corner drop (both engines). Output quantizes
    * to floor-microunits; the interpolation arithmetic is a fixed-order
    * scalar expression, so IEEE doubles agree bit-for-bit.
    */
  val regridBilinear = QueryDef("q104_regrid_bilinear",
    """WITH rows_ AS (
      |  SELECT * FROM read_parquet('/tmp/graft-oracle/q104_rows/*.parquet')),
      |bands AS (SELECT DISTINCT file, variable, leadtime_idx FROM rows_),
      |pts AS (
      |  -- e0 suffixes force DOUBLE literals: DuckDB otherwise parses
      |  -- 1.4 as exact DECIMAL and the coordinates drift a ulp from
      |  -- Spark's doubles, flipping floor() at cell boundaries
      |  SELECT file, variable, leadtime_idx,
      |    0.5e0 + 1.4e0 * i.i AS yt, 0.5e0 + 1.3e0 * j.j AS xt
      |  FROM bands,
      |    (SELECT unnest(range(5)) AS i) i, (SELECT unnest(range(5)) AS j) j),
      |g AS (
      |  SELECT p.file, p.variable, p.leadtime_idx, p.yt, p.xt,
      |    CAST(floor(p.yt) AS INT) AS y0, CAST(floor(p.xt) AS INT) AS x0,
      |    r0.vals AS v0, r1.vals AS v1
      |  FROM pts p
      |  JOIN rows_ r0 ON r0.file = p.file AND r0.variable = p.variable
      |    AND r0.leadtime_idx = p.leadtime_idx
      |    AND r0.y_idx = CAST(floor(p.yt) AS INT)
      |  JOIN rows_ r1 ON r1.file = p.file AND r1.variable = p.variable
      |    AND r1.leadtime_idx = p.leadtime_idx
      |    AND r1.y_idx = CAST(floor(p.yt) AS INT) + 1),
      |iv AS (
      |  SELECT file, variable, leadtime_idx, yt, xt,
      |    list_extract(v0, x0 + 1) AS v00, list_extract(v0, x0 + 2) AS v01,
      |    list_extract(v1, x0 + 1) AS v10, list_extract(v1, x0 + 2) AS v11,
      |    yt - y0 AS fy, xt - x0 AS fx
      |  FROM g)
      |SELECT file, variable, leadtime_idx,
      |  CAST(floor(yt * 10) AS BIGINT) AS yt_d, CAST(floor(xt * 10) AS BIGINT) AS xt_d,
      |  CAST(floor(((1 - fy) * ((1 - fx) * v00 + fx * v01)
      |            + fy * ((1 - fx) * v10 + fx * v11)) * 1e6) AS BIGINT) AS v_u
      |FROM iv
      |WHERE NOT (isnan(v00) OR isnan(v01) OR isnan(v10) OR isnan(v11))
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, _) =>
    val glob = fixtureGlob()
    val tidy = s.read.format("netcdf").load(glob)
    val rows = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("leadtime_idx"), col("y_idx"),
      col("values").as("vals"))
    oracleDump(s, "q104_rows", rows, glob)
    import s.implicits._
    val ij = (for (i <- 0 until 5; j <- 0 until 5) yield (i, j))
      .toDF("i", "j")
    val pts = rows.select(col("file"), col("variable"), col("leadtime_idx"))
      .distinct()
      .crossJoin(broadcast(ij))
      .select(col("file"), col("variable"), col("leadtime_idx"),
        (lit(0.5) + lit(1.4) * col("i")).as("yt"),
        (lit(0.5) + lit(1.3) * col("j")).as("xt"))
      .withColumn("y0", floor(col("yt")).cast("int"))
      .withColumn("x0", floor(col("xt")).cast("int"))
    val r0 = rows.withColumnRenamed("vals", "v0")
    val r1 = rows.withColumnRenamed("vals", "v1")
      .withColumnRenamed("y_idx", "y_idx1")
    val withRow0 = broadcast(pts)
      .join(r0, pts("file") === r0("file") &&
        pts("variable") === r0("variable") &&
        pts("leadtime_idx") === r0("leadtime_idx") &&
        col("y0") === r0("y_idx"))
      .select(pts("file"), pts("variable"), pts("leadtime_idx"),
        col("yt"), col("xt"), col("y0"), col("x0"), col("v0"))
    // the gathered point set stays tiny (25 per band) — re-hint it so
    // the second gather also broadcasts instead of shuffling scanlines
    val g = broadcast(withRow0)
      .join(r1, withRow0("file") === r1("file") &&
        withRow0("variable") === r1("variable") &&
        withRow0("leadtime_idx") === r1("leadtime_idx") &&
        col("y_idx1") === col("y0") + 1)
      .select(withRow0("file"), withRow0("variable"),
        withRow0("leadtime_idx"), col("yt"), col("xt"), col("y0"),
        col("x0"), col("v0"), col("v1"))
    val v00 = element_at(col("v0"), col("x0") + 1)
    val v01 = element_at(col("v0"), col("x0") + 2)
    val v10 = element_at(col("v1"), col("x0") + 1)
    val v11 = element_at(col("v1"), col("x0") + 2)
    val fy = col("yt") - col("y0"); val fx = col("xt") - col("x0")
    g.filter(!(isnan(v00) || isnan(v01) || isnan(v10) || isnan(v11)))
      .select(col("file"), col("variable"), col("leadtime_idx"),
        floor(col("yt") * 10).cast("long").as("yt_d"),
        floor(col("xt") * 10).cast("long").as("xt_d"),
        floor(((lit(1) - fy) * ((lit(1) - fx) * v00 + fx * v01) +
          fy * ((lit(1) - fx) * v10 + fx * v11)) * 1e6).cast("long")
          .as("v_u"))
  }

  /** S12 — KERCHUNK reference-store scan (the Pangeo cloud pattern:
    * archival netCDF-4 exposed as zarr via a byte-range index, no
    * bytes rewritten). The driver builds the version-1 refs JSON from
    * our own HDF5 chunk walk, then the SCAN plans one task per chunk
    * ref: executors positioned-read exactly their [offset, length)
    * range and decode through the shared zarr chunk codec — zero HDF5
    * metadata touched at read time, which is the format's entire
    * point at 100 TB (the header walk is paid once at index time).
    */
  val kerchunkScan = QueryDef("q121_kerchunk_scan",
    """SELECT variable, count(*) AS n_cells,
      |  count(CASE WHEN NOT isnan(v) THEN 1 END) AS n_valid,
      |  CAST(sum(CASE WHEN isnan(v) THEN 0
      |           ELSE CAST(floor(v * 1e6) AS BIGINT) END) AS BIGINT) AS sum_u
      |FROM (SELECT variable, unnest(values) AS v
      |      FROM read_parquet('/tmp/graft-oracle/q121_cells/*.parquet'))
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
    import graft.source.Kerchunk
    val dir = stableWork("fixtures").resolve("kerchunk")
    java.nio.file.Files.createDirectories(dir)
    // a two-file archive combined into ONE virtual store along time
    // (MultiZarrToZarr): the scan below never knows there were files
    val parts = Seq(0.0, 2.0).zipWithIndex.map { case (t0, i) =>
      val f = dir.resolve(f"archive_$i%d.nc")
      val (dims, gatts, vars) = NetCdfFixture.spec(nt = 2, ny = 16,
        nx = 12, nl = 3, tStart = t0)
      java.nio.file.Files.write(f,
        graft.source.Hdf5Write.write(dims, gatts, vars, maxChunkElems = 96))
      f
    }
    val refPaths = parts.zipWithIndex.map { case (f, i) =>
      val rp = dir.resolve(s"refs_$i.json")
      java.nio.file.Files.writeString(rp, Kerchunk.build(f))
      rp
    }
    val combined = Kerchunk.combine(
      refPaths.map(rp =>
        Kerchunk.parse(java.nio.file.Files.readString(rp))),
      concatDim = "time")
    // persist the combined virtual store in BOTH formats and SCAN THE
    // PARQUET ONE: at archive scale the JSON document is a single-node
    // parse bottleneck; the parquet refs (one row per chunk,
    // record-blocked per array) are what fsspec reads there. Any
    // divergence between the parquet round-trip and the JSON store
    // hash-mismatches the oracle below. The write runs once per JVM
    // (index-build cost, the Work.oracleDump discipline) — timed bench
    // passes read the already-written store, as a production scan would.
    val pqDir = dir.resolve("refs_parquet")
    if (pqWritten.putIfAbsent(pqDir.toString, "") == null) {
      Kerchunk.writeParquetRefs(combined, pqDir, recordSize = 4)
      val back = Kerchunk.readParquetRefs(pqDir)
      require(back.metas.map(_.name).sorted ==
          combined.metas.map(_.name).sorted &&
          back.refs.keySet == combined.refs.keySet,
        "parquet reference round-trip lost arrays or chunk refs")
    }
    val st = Kerchunk.readParquetRefs(pqDir)
    // one task per (array, chunk ref): the index IS the split plan
    val tasks = st.metas.flatMap(m =>
      Kerchunk.chunkRefs(st, m).map { case (k, r) => (m, k, r) })
    import s.implicits._
    val cells = s.createDataset(s.sparkContext
      .parallelize(tasks, math.min(tasks.size, 16))
      .map { case (m, key, ref) =>
        val (_, _, values) = Kerchunk.decodeRef(m, key, ref)
        (m.name, values)
      })
      .toDF("variable", "values")
    oracleDump(s, "q121_cells", cells, dir.toString)
    cells.select(col("variable"), explode(col("values")).as("v"))
      .groupBy(col("variable"))
      .agg(count(lit(1)).as("n_cells"),
        count(when(!isnan(col("v")), 1)).as("n_valid"),
        sum(when(isnan(col("v")), 0L)
          .otherwise(floor(col("v") * 1e6).cast("long"))).as("sum_u"))
      .orderBy("variable")
  }

  /** R5 — CONSERVATIVE (area-weighted) regridding between MISALIGNED
    * grids (the xESMF/ESMF `conservative` method — the flux-preserving
    * resample every climate pipeline uses where block-mean/bilinear
    * would break conservation): source cells of width 3 units map onto
    * target cells of width 5 along x, so overlaps are fractional and
    * EXACT INTEGERS at the same time — overlap(i,j) =
    * min(3i+3, 5j+5) − max(3i, 5j). Each source cell feeds at most
    * ⌈3/5⌉+1 = 2 targets, generated arithmetically (`sequence` over
    * the index bounds) — NO join against a weight matrix, no shuffle
    * beyond the final aggregation. The oracle re-derives every weight
    * in DuckDB from the same index arithmetic, so the conservation
    * property itself is hash-checked: Σ_j out_wv(j) = Σ_i 3·v(i).
    */
  val regridConservative = QueryDef("q118_regrid_conservative",
    """WITH src AS (
      |  SELECT file, variable, leadtime_idx, y_idx, x_idx,
      |    CAST(floor(v * 1e6) AS BIGINT) AS v_u
      |  FROM read_parquet('/tmp/graft-oracle/q118_cells/*.parquet')
      |  WHERE NOT isnan(v)),
      |fan AS (
      |  SELECT file, variable, leadtime_idx, y_idx, x_idx, v_u, tx.tx
      |  FROM src, LATERAL (
      |    SELECT unnest(generate_series((3 * x_idx) // 5,
      |                                  (3 * x_idx + 2) // 5)) AS tx) tx),
      |w AS (
      |  SELECT file, variable, leadtime_idx, y_idx, tx,
      |    least(3 * x_idx + 3, 5 * tx + 5)
      |      - greatest(3 * x_idx, 5 * tx) AS ov, v_u
      |  FROM fan)
      |SELECT file, variable, leadtime_idx, y_idx, tx,
      |  count(*) AS n_src,
      |  CAST(sum(ov) AS BIGINT) AS w_sum,
      |  CAST(sum(ov * v_u) AS BIGINT) AS wv_u
      |FROM w GROUP BY 1, 2, 3, 4, 5
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin) { (s, _) =>
    val glob = fixtureGlob()
    val tidy = s.read.format("netcdf").load(glob)
    val cells = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("leadtime_idx"), col("y_idx"),
      posexplode(col("values")).as(Seq("x_idx", "v")))
    oracleDump(s, "q118_cells", cells, glob)
    cells.filter(!isnan(col("v")))
      .withColumn("v_u", floor(col("v") * 1e6).cast("long"))
      .withColumn("tx", explode(sequence(
        expr("(3 * x_idx) div 5"), expr("(3 * x_idx + 2) div 5"))))
      .withColumn("ov",
        least(col("x_idx") * 3 + 3, col("tx") * 5 + 5) -
          greatest(col("x_idx") * 3, col("tx") * 5))
      .groupBy(col("file"), col("variable"), col("leadtime_idx"),
        col("y_idx"), col("tx"))
      .agg(count(lit(1)).as("n_src"),
        sum(col("ov")).cast("long").as("w_sum"),
        sum(col("ov") * col("v_u")).cast("long").as("wv_u"))
  }

  /** R6 — terrain/field GRADIENTS (the DEM slope/roughness primitive:
    * central differences over the 3×3 neighborhood). The y-neighbors
    * come from lag/lead of WHOLE SCANLINE ARRAYS over one window (one
    * shuffle per band, no self-join of the cell relation); x-neighbors
    * are `element_at` within the row. Gradients stay EXACT integers
    * (differences of floor-microunit cells; roughness = Σ(∂x² + ∂y²))
    * so no trig/libm cross-engine hazard exists — slope/aspect are a
    * scalar atan away for consumers who want degrees.
    */
  val gradients = QueryDef("q119_gradients",
    """WITH w AS (
      |  SELECT file, variable, leadtime_idx, y_idx, vals,
      |    lag(vals)  OVER win AS vm, lead(vals) OVER win AS vp
      |  FROM read_parquet('/tmp/graft-oracle/q119_rows/*.parquet')
      |  WINDOW win AS (PARTITION BY file, variable, leadtime_idx
      |                 ORDER BY y_idx)),
      |cells AS (
      |  SELECT file, variable, leadtime_idx, y_idx,
      |    CAST(floor(vals[i.i + 1] * 1e6) AS BIGINT)
      |      - CAST(floor(vals[i.i - 1] * 1e6) AS BIGINT) AS dzdx,
      |    CAST(floor(vp[i.i] * 1e6) AS BIGINT)
      |      - CAST(floor(vm[i.i] * 1e6) AS BIGINT) AS dzdy
      |  FROM w, LATERAL (SELECT unnest(generate_series(2,
      |                     len(vals) - 1)) AS i) AS i
      |  WHERE vm IS NOT NULL AND vp IS NOT NULL
      |    AND NOT isnan(vals[i.i - 1]) AND NOT isnan(vals[i.i + 1])
      |    AND NOT isnan(vm[i.i]) AND NOT isnan(vp[i.i]))
      |SELECT file, variable, leadtime_idx, y_idx, count(*) AS n,
      |  CAST(sum(abs(dzdx)) AS BIGINT) AS sum_abs_dzdx,
      |  CAST(sum(abs(dzdy)) AS BIGINT) AS sum_abs_dzdy,
      |  CAST(sum(dzdx * dzdx + dzdy * dzdy) AS BIGINT) AS roughness
      |FROM cells GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2, 3, 4""".stripMargin) { (s, _) =>
    val glob = fixtureGlob()
    val tidy = s.read.format("netcdf").load(glob)
    val rows = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("leadtime_idx"), col("y_idx"),
      col("values").as("vals"))
    oracleDump(s, "q119_rows", rows, glob)
    val win = Window.partitionBy("file", "variable", "leadtime_idx")
      .orderBy("y_idx")
    val w = rows
      .withColumn("vm", lag(col("vals"), 1).over(win))
      .withColumn("vp", lead(col("vals"), 1).over(win))
      .filter(col("vm").isNotNull && col("vp").isNotNull)
    def q(c: org.apache.spark.sql.Column) = floor(c * 1e6).cast("long")
    val cells = w
      .withColumn("i", explode(sequence(lit(2), size(col("vals")) - 1)))
      .filter(!isnan(element_at(col("vals"), col("i") - 1)) &&
        !isnan(element_at(col("vals"), col("i") + 1)) &&
        !isnan(element_at(col("vm"), col("i"))) &&
        !isnan(element_at(col("vp"), col("i"))))
      .withColumn("dzdx", q(element_at(col("vals"), col("i") + 1)) -
        q(element_at(col("vals"), col("i") - 1)))
      .withColumn("dzdy", q(element_at(col("vp"), col("i"))) -
        q(element_at(col("vm"), col("i"))))
    cells.groupBy(col("file"), col("variable"), col("leadtime_idx"),
        col("y_idx"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("dzdx"))).cast("long").as("sum_abs_dzdx"),
        sum(abs(col("dzdy"))).cast("long").as("sum_abs_dzdy"),
        sum(col("dzdx") * col("dzdx") + col("dzdy") * col("dzdy"))
          .cast("long").as("roughness"))
  }

  /** R3 — zonal statistics (the climate-diagnostics reduction over
    * named regions): cells map to zones by a bounding-box containment
    * join in the grid's own coordinates. The zone table is tiny and
    * BROADCAST, so the range-predicate join never shuffles the cell
    * relation — at archive scale the plan is one scan + a broadcast
    * nested-loop against four rows + a partial-aggregated groupBy.
    */
  val zonalStats = QueryDef("q109_zonal_stats",
    """WITH zones(zone, y_min, y_max, x_min, x_max) AS (
      |  VALUES ('nw', 100000.0, 104000.0, 200000.0, 204000.0),
      |         ('ne', 100000.0, 104000.0, 204000.0, 208000.0),
      |         ('sw', 104000.0, 108000.0, 200000.0, 204000.0),
      |         ('se', 104000.0, 108000.0, 204000.0, 208000.0))
      |SELECT file, variable, leadtime_idx, zone,
      |  count(*) AS n_valid,
      |  CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS sum_u
      |FROM read_parquet('/tmp/graft-oracle/q109_cells/*.parquet') c
      |JOIN zones z ON c.y >= z.y_min AND c.y < z.y_max
      |            AND c.x >= z.x_min AND c.x < z.x_max
      |WHERE NOT isnan(v)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin) { (s, _) =>
    val glob = fixtureGlob()
    val tidy = s.read.format("netcdf").load(glob)
    val cells = tidy
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("variable"), col("leadtime_idx"), col("y"), col("xs"),
        posexplode(col("values")).as(Seq("x_idx", "v")))
      .withColumn("x", element_at(col("xs"), col("x_idx") + 1))
      .drop("xs", "x_idx")
    oracleDump(s, "q109_cells", cells, glob)
    import s.implicits._
    // the tidy scan normalizes km axes to METERS (P3), so the zone
    // boxes are in meters too
    val zones = Seq(
      ("nw", 100000.0, 104000.0, 200000.0, 204000.0),
      ("ne", 100000.0, 104000.0, 204000.0, 208000.0),
      ("sw", 104000.0, 108000.0, 200000.0, 204000.0),
      ("se", 104000.0, 108000.0, 204000.0, 208000.0))
      .toDF("zone", "y_min", "y_max", "x_min", "x_max")
    cells.filter(!isnan(col("v")))
      .join(broadcast(zones),
        col("y") >= col("y_min") && col("y") < col("y_max") &&
          col("x") >= col("x_min") && col("x") < col("x_max"))
      .groupBy(col("file"), col("variable"), col("leadtime_idx"),
        col("zone"))
      .agg(count(lit(1)).as("n_valid"),
        sum(floor(col("v") * 1e6).cast("long")).as("sum_u"))
  }

  /** R4 — climatology + anomaly (the two-pass temporal normalization
    * every reanalysis pipeline runs): a per-cell climatology over the
    * time axis, anomalies re-joined per step. The arithmetic is exact
    * integers — anomaly_u = n·v_u − Σv_u — so the cross-engine hash
    * is independent of float summation order, and the Spark join
    * shuffles BOTH sides on the same cell key (co-partitioned, no
    * broadcast of the big side) — the shape that survives a 100×
    * archive.
    */
  val climatologyAnomaly = QueryDef("q110_climatology_anomaly",
    """WITH cells AS (
      |  SELECT file, variable, time_idx, leadtime_idx, y_idx, x_idx,
      |    CAST(floor(v * 1e6) AS BIGINT) AS v_u
      |  FROM read_parquet('/tmp/graft-oracle/q110_cells/*.parquet')
      |  WHERE NOT isnan(v)),
      |clim AS (
      |  SELECT variable, leadtime_idx, y_idx, x_idx,
      |    count(*) AS n, CAST(sum(v_u) AS BIGINT) AS s
      |  FROM cells GROUP BY 1, 2, 3, 4)
      |SELECT c.file, c.variable, c.time_idx,
      |  count(*) AS n_cells,
      |  CAST(sum(cl.n * c.v_u - cl.s) AS BIGINT) AS sum_anom_u,
      |  CAST(sum(abs(cl.n * c.v_u - cl.s)) AS BIGINT) AS sum_abs_anom_u
      |FROM cells c
      |JOIN clim cl ON c.variable = cl.variable
      |  AND c.leadtime_idx = cl.leadtime_idx
      |  AND c.y_idx = cl.y_idx AND c.x_idx = cl.x_idx
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, _) =>
    // a 4-step archive in one file: the climatology spans the file's
    // own time axis, so the cell values genuinely vary per step
    val dir = stableWork("fixtures").resolve("ncclim")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("archive.nc"),
      NetCdfFixture.bytes(nt = 4))
    val glob = s"$dir/*.nc"
    val tidy = s.read.format("netcdf").load(glob)
    val cells0 = tidy.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("variable"), col("time_idx"), col("leadtime_idx"),
      col("y_idx"), posexplode(col("values")).as(Seq("x_idx", "v")))
    oracleDump(s, "q110_cells", cells0, glob)
    val cells = cells0.filter(!isnan(col("v")))
      .withColumn("v_u", floor(col("v") * 1e6).cast("long"))
    val clim = cells.groupBy(col("variable"), col("leadtime_idx"),
        col("y_idx"), col("x_idx"))
      .agg(count(lit(1)).as("n"), sum(col("v_u")).as("s"))
    val anom = cells
      .join(clim, Seq("variable", "leadtime_idx", "y_idx", "x_idx"))
      .withColumn("anom_u", col("n") * col("v_u") - col("s"))
    anom.groupBy(col("file"), col("variable"), col("time_idx"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("anom_u")).cast("long").as("sum_anom_u"),
        sum(abs(col("anom_u"))).cast("long").as("sum_abs_anom_u"))
  }

  /** S11 — GRIB2 scan (the operational forecast distribution format)
    * through the tidy query layer: simple-packed fields with bitmap
    * holes decode into the same scanline shape the netCDF scan emits;
    * per-field statistics re-derived by DuckDB from the dumped cells.
    * Values quantize to floor-microunits (packing already quantized
    * them to 10^-D, but the binary value of rScaled + X·2^E/10^D is
    * what both engines must agree on bit-for-bit).
    */
  val grib2Scan = QueryDef("q107_grib2_scan",
    """SELECT regexp_extract(path, '([^/]+)$', 1) AS file, field_idx,
      |  category, parameter, forecast_hours, ensemble_member,
      |  stat_process, prob_type,
      |  COALESCE(prob_thresh_u, -1) AS prob_thresh_u,
      |  count(CASE WHEN NOT isnan(v) THEN 1 END) AS n_valid,
      |  count(*) AS n_cells,
      |  CAST(sum(CASE WHEN isnan(v) THEN 0
      |           ELSE CAST(floor(v * 1e6) AS BIGINT) END) AS BIGINT) AS sum_u,
      |  CAST(min(floor(lat * 1e6)) AS BIGINT) AS min_lat_u
      |FROM (SELECT path, field_idx, category, parameter, forecast_hours,
      |        ensemble_member, stat_process, prob_type, prob_thresh_u,
      |        lat, unnest(values) AS v
      |      FROM read_parquet('/tmp/graft-oracle/q107_cells/*.parquet'))
      |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9
      |ORDER BY 1, 2, 3, 4, 5, 6, 7, 8, 9""".stripMargin) {
    (s, _) =>
    val dir = stableWork("fixtures").resolve("grib2")
    java.nio.file.Files.createDirectories(dir)
    for (fi <- 0 until 2) {
      val fields = Seq(
        graft.source.Grib2Write.FieldSpec(0, 3, 5 + fi,
          forecastHours = 6 * (fi + 1), ni = 12, nj = 9,
          lat1 = 62.0, lon1 = -40.5, dLat = 0.5, dLon = 0.75,
          values = Array.tabulate(108)(i =>
            if ((i + fi) % 13 == 0) Double.NaN
            else 250.0 + (i % 17) * 0.75 + fi * 3.25),
          decimalScale = 2),
        graft.source.Grib2Write.FieldSpec(2, 0, 2,
          forecastHours = 12, ni = 6, nj = 4,
          lat1 = -5.0, lon1 = 100.0, dLat = 1.0, dLon = 1.0,
          values = Array.tabulate(24)(i => -40.0 + i * 1.5),
          decimalScale = 1, binaryScale = 1),
        // complex packing + 2nd-order spatial differencing (5.3): the
        // operational NOAA encoding, oracle-gated through the same scan
        graft.source.Grib2Write.FieldSpec(0, 1, 8,
          forecastHours = 3, ni = 15, nj = 11,
          lat1 = 70.0, lon1 = -30.0, dLat = 0.25, dLon = 0.25,
          values = Array.tabulate(165)(i =>
            if (i % 31 == 11) Double.NaN
            else 980.0 + 0.5 * (i / 15) + 0.25 * (i % 15) +
              ((i * 7) % 5) * 0.04),
          decimalScale = 2, packing = 3, diffOrder = 2, groupSize = 13),
        // CCSDS/AEC packing (5.42) — the ECMWF/DWD operational
        // encoding, decoded through the extended-Rice coder; the
        // second file's copy byte-pads each reference interval
        graft.source.Grib2Write.FieldSpec(0, 2, 2,
          forecastHours = 9, ni = 16, nj = 13,
          lat1 = 55.0, lon1 = 2.0, dLat = 0.25, dLon = 0.25,
          values = Array.tabulate(208)(i =>
            if ((i + fi) % 29 == 3) Double.NaN
            else 10.0 + 4.0 * math.sin(i / 10.0) + (i % 7) * 0.11),
          decimalScale = 2, packing = 42, ccsdsPadRsi = fi == 1),
        // ECMWF-shaped regular Gaussian grid (3.40): rows sit on the
        // N8 parallel table (a regional subset in the second file), so
        // the oracle hashes the quadrature latitudes themselves
        graft.source.Grib2Write.FieldSpec(0, 3, 3,
          forecastHours = 24, ni = 10, nj = if (fi == 0) 16 else 6,
          lat1 = 0, lon1 = -15.0, dLat = 0, dLon = 3.0,
          values = Array.tabulate(10 * (if (fi == 0) 16 else 6))(i =>
            230.0 + (i % 19) * 0.8 + fi * 1.1),
          decimalScale = 2, gaussian = Some((8, if (fi == 0) 0 else 4))),
        // REDUCED Gaussian grid (the ERA5/IFS native layout): ragged
        // rows through the PL list, each row its own tidy values array
        graft.source.Grib2Write.FieldSpec(0, 1, 6,
          forecastHours = 18, ni = -1, nj = 8,
          lat1 = 0, lon1 = 0.0, dLat = 0, dLon = 0,
          values = Array.tabulate(200)(i => 0.5 + (i % 23) * 0.25 + fi),
          decimalScale = 2, gaussian = Some((4, 0)),
          gaussianPl = Some(Array(18, 22, 26, 32, 30, 28, 24, 20))),
        // JPEG2000 packing (5.40) — the NCEP dissemination encoding,
        // decoded through the from-spec Part 1 subset codec; the
        // second file's copy carries bitmap holes, exercising the
        // nPoints×1 raster shape
        graft.source.Grib2Write.FieldSpec(0, 3, 192,
          forecastHours = 15, ni = 14, nj = 10,
          lat1 = 48.0, lon1 = -5.0, dLat = 0.5, dLon = 0.5,
          values = Array.tabulate(140)(i =>
            if (fi == 1 && i % 41 == 6) Double.NaN
            else 300.0 + 25.0 * math.sin(i / 8.0) + (i % 13) * 0.07),
          decimalScale = 2, packing = 40),
        // GEFS-shaped ensemble accumulation (product template 4.11:
        // perturbation member + a 6-hour accumulation), CCSDS-packed
        graft.source.Grib2Write.FieldSpec(0, 1, 8,
          forecastHours = 6, ni = 9, nj = 7,
          lat1 = 40.0, lon1 = -100.0, dLat = 0.5, dLon = 0.5,
          values = Array.tabulate(63)(i =>
            if (i % 17 == 2) Double.NaN else (i % 11) * 0.4 + fi * 0.2),
          decimalScale = 2, packing = 42,
          ensembleSpec = Some((3, 4 + fi, 31)),
          statSpec = Some((1, 6))),
        // NBM/GEFS-shaped probability-of-precipitation field (product
        // template 4.9): P(6h precip > 0.254 mm), probability type 3
        // (above lower limit), threshold octets (scale 3, value 254)
        // → 254000 micro-units exactly
        graft.source.Grib2Write.FieldSpec(0, 1, 8,
          forecastHours = 12, ni = 8, nj = 5,
          lat1 = 45.0, lon1 = -90.0, dLat = 0.5, dLon = 0.5,
          values = Array.tabulate(40)(i =>
            if ((i + fi) % 33 == 8) Double.NaN else (i % 21) * 5.0),
          decimalScale = 0,
          probSpec = Some(graft.source.Grib2Write.ProbSpec(
            0, 1, probType = 3, scale = 3, lo = Some(254), hi = None)),
          statSpec = Some((1, 6))),
        // CORDEX-shaped rotated lat/lon grid (3.1, the EUR-11 pole):
        // rows step in rotated degrees and the per-row lat column
        // georeferences the anchor column through the rotated-pole
        // mapping
        graft.source.Grib2Write.FieldSpec(0, 0, 17,
          forecastHours = 4, ni = 11, nj = 9,
          lat1 = 4.0, lon1 = -6.5, dLat = 0.44, dLon = 0.44,
          values = Array.tabulate(99)(i =>
            if ((i + fi) % 27 == 9) Double.NaN
            else 275.0 + (i % 12) * 0.45 + fi * 0.7),
          decimalScale = 2,
          rotated = Some(graft.source.Grib2.RotatedGrid(
            poleLat = 39.25, poleLon = -162.0))),
        // HRRR-shaped Lambert grid (3.30): rows georeference through
        // the cone, so the dumped per-row lat column exercises the
        // projected path in the oracle hash too
        graft.source.Grib2Write.FieldSpec(0, 0, 0,
          forecastHours = 1, ni = 8, nj = 6,
          lat1 = 47.3, lon1 = -110.0, dLat = 3000.0, dLon = 3000.0,
          values = Array.tabulate(48)(i => 280.0 + (i % 9) * 0.5),
          decimalScale = 1,
          lambert = Some(graft.source.Grib2.LambertGrid(
            6371229.0, lov = -97.5, laD = 38.5,
            latin1 = 38.5, latin2 = 38.5))),
        // Mercator grid (3.10, the tropical satellite-product
        // projection): rows georeference through Geo.Mercator from
        // the true-scale parallel
        graft.source.Grib2Write.FieldSpec(0, 6, 1,
          forecastHours = 2, ni = 10, nj = 8,
          lat1 = 18.0, lon1 = 95.0, dLat = 50000.0, dLon = 50000.0,
          values = Array.tabulate(80)(i =>
            if ((i + fi) % 19 == 7) Double.NaN
            else 290.0 + (i % 13) * 0.3 + fi * 0.15),
          decimalScale = 2,
          mercator = Some(graft.source.Grib2.MercatorGrid(
            6371229.0, laD = 18.0))),
        // space-view grid (3.90): a GOES-East-shaped mid-disk sector
        // (16-cell apparent disk, sector origin (3,4)); row anchors
        // georeference through the geostationary view geometry
        graft.source.Grib2Write.FieldSpec(3, 0, 7 + fi,
          forecastHours = 0, ni = 10, nj = 8,
          lat1 = 0, lon1 = 0, dLat = 0, dLon = 0,
          values = Array.tabulate(80)(i =>
            if (i % 23 == 5) Double.NaN
            else 0.1 + (i % 9) * 0.05 + fi * 0.01),
          decimalScale = 3,
          spaceview = Some(graft.source.Grib2Write.SpaceViewSpec(
            req = 6378137.0, rpol = 6356752.0, lop = -75.0,
            nrMicroRadii = 6610561, dx = 16, dy = 16,
            xpMilli = 8000, ypMilli = 8000, xo = 3, yo = 4))))
      java.nio.file.Files.write(dir.resolve(f"fc_$fi%02d.grib2"),
        graft.source.Grib2Write.write(fields))
    }
    // splitBytes=1 → every message becomes its own planned split, so
    // the oracle hash also gates the sub-file split path: per-split
    // positioned reads and file-global field_idx bookkeeping
    val tidy = graft.source.Grib2Source.tidy(s, dir.toString,
      splitBytes = 1)
    val cells = tidy.select(col("path"), col("field_idx"), col("category"),
      col("parameter"), col("forecast_hours"), col("ensemble_member"),
      col("stat_process"), col("prob_type"), col("prob_thresh_u"),
      col("lat"), col("values"))
    oracleDump(s, "q107_cells", cells, dir.toString)
    tidy.select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
      col("field_idx"), col("category"), col("parameter"),
      col("forecast_hours"), col("ensemble_member"), col("stat_process"),
      col("prob_type"),
      coalesce(col("prob_thresh_u"), lit(-1L)).as("prob_thresh_u"),
      col("lat"), explode(col("values")).as("v"))
      .groupBy(col("file"), col("field_idx"), col("category"),
        col("parameter"), col("forecast_hours"), col("ensemble_member"),
        col("stat_process"), col("prob_type"), col("prob_thresh_u"))
      .agg(
        count(when(!isnan(col("v")), 1)).as("n_valid"),
        count(lit(1)).as("n_cells"),
        sum(when(isnan(col("v")), 0L)
          .otherwise(floor(col("v") * 1e6).cast("long"))).as("sum_u"),
        min(floor(col("lat") * 1e6)).cast("long").as("min_lat_u"))
  }

  val all: Seq[QueryDef] =
    Seq(vlenRagged,
      manifest, manifestHdf5, bandStats, bandStatsHdf5, bandStatsUnlimited,
      bandStatsPluginFilters, bandStatsShared, preprocessE2e, ingestDryRun,
      zarrScan, zarrV3Scan, zarrVariantsScan, zarrNumcodecsScan,
      enumMaskCounts, compoundBounds, regridBlockMean, regridBilinear,
      kerchunkScan, regridConservative, gradients, zonalStats, climatologyAnomaly, grib2Scan)
}
