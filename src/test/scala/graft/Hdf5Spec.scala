package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.source.{GridFile, Hdf5, Hdf5Write, NetCdf, NetCdfFixture, NetCdfSource}

/** S1 completion — netCDF-4/HDF5 read (and zlib write, K1 parity):
  * the reference's primary input path and its own slice outputs are
  * HDF5-backed (ref generator.py:485,661,969-977). These tests pin the
  * pure-JVM HDF5 codec: structure parse, dimension-scale resolution,
  * chunk+shuffle+deflate round-trip, and 1:1 parity between the
  * classic and HDF5 renderings of the same fixture through the SAME
  * Spark scan.
  */
class Hdf5Spec extends SparkSpec {

  test("HDF5 structure: datasets, dims, attrs parsed from a netCDF-4 file") {
    val bytes = NetCdfFixture.bytesHdf5(nt = 1, ny = 4, nx = 5, nl = 3)
    assert(Hdf5.isHdf5(bytes))
    val f = Hdf5.read(bytes)
    assert(f.datasets.map(_.name).sorted ===
      Seq("leadtime", "sic_mean", "sic_stddev", "time", "xc", "yc"))
    assert(f.gatt("geospatial_bounds_crs").map(_.text) === Some("EPSG:6931"))
    val mean = f.dataset("sic_mean").get
    assert(mean.dims === Seq(1, 4, 5, 3))
    // DIMENSION_LIST references resolve to the scale names in order
    assert(f.dimNames(mean) === Seq("time", "yc", "xc", "leadtime"))
    assert(f.dataset("yc").get.isDimScale)
    assert(mean.attr("units").map(_.text) === Some("1"))
    // payload went through shuffle + deflate
    assert(mean.filters.map(_.id) === Seq(2, 1))
  }

  test("chunk+shuffle+deflate round-trip: every value (incl. NaN) survives") {
    val (dims, gatts, vars) = NetCdfFixture.spec(nt = 2, ny = 7, nx = 5, nl = 3)
    val bytes = Hdf5Write.write(dims, gatts, vars)
    val r = new Hdf5.Reader(bytes)
    vars.foreach { v =>
      val back = r.readDoubles(v.name)
      assert(back.length === v.data.length, v.name)
      v.data.indices.foreach { i =>
        val (a, b) = (v.data(i), back(i))
        assert(a.isNaN && b.isNaN || a === b, s"${v.name}[$i]")
      }
    }
  }

  test("multi-chunk scatter: shapes that split into several edge-clipped chunks") {
    // force small chunks so edge clipping and multi-chunk assembly run
    val dims = Seq("a" -> 5, "b" -> 6)
    val data = Array.tabulate(30)(_.toDouble * 1.5)
    val chunkDims = Hdf5Write.chunkShape(Seq(5, 6))
    assert(chunkDims === Seq(5, 6)) // small shape: single chunk by rule…
    // …so drive the splitter directly with a big virtual shape
    assert(Hdf5Write.chunkShape(Seq(1, 1024, 1024, 93)).product <= 262144)
    val bytes = Hdf5Write.write(dims, Seq.empty,
      Seq(NetCdf.VarSpec("v", Seq("a", "b"), Seq.empty, data)))
    val back = new Hdf5.Reader(bytes).readDoubles("v")
    assert(back.toSeq === data.toSeq)
  }

  test("chunk pruning: a sliced read inflates only intersecting chunks") {
    // (time=1, yc=8, xc=8, leadtime=6) with chunks forced small enough
    // to split: chunkShape((1,8,8,6), 48) = (1,4,4,3) → 2×2×2 chunks
    val (dims, gatts, vars) = NetCdfFixture.spec(nt = 1, ny = 8, nx = 8, nl = 6)
    assert(Hdf5Write.chunkShape(Seq(1, 8, 8, 6), 48) === Seq(1, 4, 4, 3))
    val bytes = Hdf5Write.write(dims, gatts, vars, maxChunkElems = 48)
    val r = new Hdf5.Reader(bytes)
    val full = r.readDoubles("sic_mean")
    // keep leadtime index 4 (second leadtime chunk), all other dims free
    val sliced = r.readDoublesSliced("sic_mean",
      Array(None, None, None, Some(4L)))
    val (ny, nx, nl) = (8, 8, 6)
    for (y <- 0 until ny; x <- 0 until nx; l <- 0 until nl) {
      val i = (y * nx + x) * nl + l
      if (l >= 3) // kept leadtime chunk: values identical to the full read
        assert(sliced(i) == full(i) || (sliced(i).isNaN && full(i).isNaN),
          s"kept cell ($y,$x,$l)")
      else // pruned chunks were never scattered: cells stay zero
        assert(sliced(i) === 0.0, s"pruned cell ($y,$x,$l)")
    }
    // the tidy scan wired to the same pruning returns the right slice
    val dir = java.nio.file.Files.createTempDirectory("graft-h5prune")
    java.nio.file.Files.write(dir.resolve("f.nc"), bytes)
    val tidy = spark.read.format("netcdf").load(s"$dir/*.nc")
      .filter(org.apache.spark.sql.functions.col("leadtime_idx") === 4)
      .filter(org.apache.spark.sql.functions.col("variable") === "sic_mean")
    val rows = tidy.collect()
    assert(rows.length === ny)
    // closed form: the fixture grid's leadtime-4 scanlines, y order
    val mean = vars.find(_.name == "sic_mean").get.data
    def key(r: org.apache.spark.sql.Row) = r.getInt(r.fieldIndex("y_idx"))
    val a = rows.sortBy(key).map(r => FixtureRows.nanSafe(r.getSeq[Double](9)))
    val b = (0 until ny).map(y =>
      FixtureRows.nanSafe(FixtureRows.scanline(mean, ny, nx, nl, 0, y, 4)))
    assert(a.toSeq === b)
  }

  test("GridFile facade dispatches by magic and agrees across formats") {
    val classic = GridFile.open(NetCdfFixture.bytes(ny = 4, nx = 4))
    val h5 = GridFile.open(NetCdfFixture.bytesHdf5(ny = 4, nx = 4))
    assert(classic.format === "classic" && h5.format === "hdf5")
    Seq("sic_mean", "sic_stddev", "yc").foreach { v =>
      assert(h5.shape(v) === classic.shape(v), v)
      assert(h5.dimNames(v) === classic.dimNames(v), v)
      val (a, b) = (classic.readDoubles(v), h5.readDoubles(v))
      a.indices.foreach(i => assert(a(i).isNaN && b(i).isNaN || a(i) === b(i)))
    }
    assert(h5.gattText("geospatial_bounds_crs") === Some("EPSG:6931"))
    assert(h5.isPayload("sic_mean", 4) && !h5.isPayload("yc", 1))
    assert(h5.dtypeName("sic_mean") === "float64")
  }

  test("S1: the same Spark scans read netCDF-4/HDF5 files (manifest + tidy)") {
    val dirC = Files.createTempDirectory("graft-h5c")
    val dirH = Files.createTempDirectory("graft-h5h")
    val globC = NetCdfFixture.writeFiles(dirC, n = 2)
    val globH = NetCdfFixture.writeFiles(dirH, n = 2, hdf5 = true)
    // manifest parity (paths differ; everything else must match)
    val cols = Seq("variable", "ndim", "dims", "dtype", "n_values",
      "units", "crs", "x_coord", "y_coord", "is_band", "lat_min")
    val mc = NetCdfSource.manifest(spark, globC)
      .select(cols.map(col): _*).orderBy("variable").collect()
    val mh = NetCdfSource.manifest(spark, globH)
      .filter(col("is_band") || col("ndim") === 1) // HDF5 lists no extra rows
      .select(cols.map(col): _*).orderBy("variable").collect()
    assert(mh.map(_.toString).distinct.sorted ===
      mc.map(_.toString).distinct.sorted)
    // tidy parity: identical rows from both renderings
    val tc = NetCdfSource.tidy(spark, globC).drop("path")
    val th = NetCdfSource.tidy(spark, globH).drop("path")
    assert(th.count() === tc.count())
    assert(th.exceptAll(tc).isEmpty && tc.exceptAll(th).isEmpty)
  }

  test("DSv2 netcdf format reads HDF5 with variable pushdown intact") {
    val dir = Files.createTempDirectory("graft-h5v2")
    NetCdfFixture.writeFiles(dir, n = 2, hdf5 = true)
    val df = spark.read.format("netcdf").load(s"$dir/*.nc")
      .filter(col("variable") === "sic_mean")
    assert(df.count() === 2 * 1 * 3 * 8) // files × time × leadtime × y
    // header-only path (no payload columns) also works on HDF5
    val meta = spark.read.format("netcdf").load(s"$dir/*.nc")
      .select("variable", "leadtime").distinct()
    assert(meta.count() === 2 * 3)
  }

  test("float16 payloads (the ML-array dtype) decode through chunk + " +
    "shuffle + deflate, NaN preserved") {
    import graft.source.{Half, Hdf5, Hdf5Write}
    val (dims, gatts, vars) = NetCdfFixture.spec(nt = 1, ny = 8, nx = 8, nl = 3)
    val bytes = Hdf5Write.write(dims, gatts, vars,
      halfVars = Set("sic_mean", "sic_stddev"))
    val r = new Hdf5.Reader(bytes)
    val band = r.file.dataset("sic_mean").get
    assert(band.dtype.cls === Hdf5.ClsFloat && band.dtype.size === 2)
    // expected = the fixture values quantized through binary16 —
    // shuffle runs at 2-byte elements and NaNs survive the codec
    val expect = vars.find(_.name == "sic_mean").get.data
      .map(v => Half.toDouble(Half.fromDouble(v)))
    val got = r.readDoubles("sic_mean")
    assert(got.length === expect.length)
    expect.indices.foreach(i => assert(
      java.lang.Double.doubleToLongBits(got(i)) ===
        java.lang.Double.doubleToLongBits(expect(i)), s"cell $i"))
    assert(got.count(_.isNaN) > 0, "fixture NaNs must survive")
    // coordinate scales stay float64 alongside half payloads
    assert(r.file.dataset("yc").get.dtype.size === 8)
    assert(r.readDoubles("yc").toSeq === (0 until 8).map(100.0 + _))
  }
}
