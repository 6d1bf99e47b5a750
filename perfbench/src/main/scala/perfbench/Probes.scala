package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.StacCatalog
import graft.ops.StacOps
import graft.pipeline.Thumbnail
import graft.sink.{CogWriter, StacJsonSink}
import graft.source.{Hdf5Write, NetCdf, NetCdfSource}

/** Per-layer probes: each times calls into one module's public functions
  * from outside, on the workload's own inputs and on a complete output
  * tree. Every probe runs inside a tracer span, so the Spark jobs it
  * starts are its children and its self time is the work outside them.
  */
final class Probes(spark: SparkSession, tracer: Tracer, listener: JobListener,
                   in: InputSet, data: Path, workDir: Path, reps: Int) {
  private val s = in.shape
  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Median wall seconds of `reps` calls, plus the Spark tasks of the
    * last call.
    */
  private def timed[T](name: String)(body: => T): (T, Double, Int) = {
    var last: Option[T] = None
    val (secs, tasks) = (1 to reps).map { _ =>
      val (r, sp) = tracer.span(name, "probe")(_ => body)
      last = Some(r)
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      (sp.durMs / 1000, listener.within(sp.startMs, sp.endMs).map(_.tasks).sum)
    }.unzip
    (last.get, Report.median(secs), tasks.last)
  }

  private def put(name: String, v: Double): Unit = out(name) = v

  def run(): Map[String, Double] = {
    import spark.implicits._
    // ---- graft.source
    put("source.manifest_s", timed("source.manifest") {
      NetCdfSource.manifest(spark, in.glob).collect()
    }._2)
    val (rows, tidyS, tidyTasks) = timed("source.tidy") {
      NetCdfSource.tidy(spark, in.glob).count()
    }
    put("source.tidy_s", tidyS); put("source.tidy_tasks", tidyTasks)
    put("source.tidy_rows", rows.toDouble)
    val (v2Cells, v2S, v2Tasks) = timed("source.v2_scan") {
      spark.read.format("netcdf").load(in.glob)
        .agg(sum(size(col("values")))).head().getLong(0)
    }
    require(v2Cells == in.files.size.toLong * s.ny * s.nx * s.nl * Inputs.Bands.size,
      s"netcdf v2 scan read $v2Cells cells")
    put("source.v2_scan_s", v2S); put("source.v2_scan_tasks", v2Tasks)
    // the HDF5 decode path, over the netCDF-4 slices the op wrote
    put("source.hdf5_tidy_s", timed("source.hdf5_tidy") {
      NetCdfSource.tidy(spark, s"$data/netcdf/*/*/*.nc").count()
    }._2)

    // ---- graft.functions: the A2 aggregation over a cached tidy scan
    val tidy = NetCdfSource.tidy(spark, in.glob).persist()
    tidy.count()
    val st = graft.functions.VecStatsExpr.vecStats(col("values"))
    val (nStats, statsS, _) = timed("functions.band_stats") {
      tidy.select(col("path"), col("time_idx"), col("variable"),
          col("leadtime_idx"), st.as("st"))
        .groupBy(col("path"), col("time_idx"), col("variable"), col("leadtime_idx"))
        .agg(min(when(col("st.n_valid") > 0, col("st.vmin"))),
          max(when(col("st.n_valid") > 0, col("st.vmax"))),
          sum(col("st.vsum")), sum(col("st.vsumsq")),
          sum(col("st.n_valid")), sum(col("st.n_total")))
        .collect().length
    }
    tidy.unpersist()
    require(nStats == in.files.size * s.nl * Inputs.Bands.size, s"$nStats stat rows")
    put("functions.band_stats_s", statsS)
    put("functions.multihash_s", timed("functions.multihash") {
      spark.read.format("binaryFile")
        .load(s"$data/netcdf/*/*/*", s"$data/cogs/*/*/*")
        .select(graft.functions.Scalars.blockMultihashMd5(col("content")))
        .collect()
    }._2)

    // ---- graft.sink: encoders on the first input file's payload
    val bands = in.bands
    val (dims, _, fixtureVars) = graft.source.NetCdfFixture.spec(1, s.ny, s.nx, s.nl)
    val coords = fixtureVars.filterNot(v => Inputs.Bands.contains(v.name))
    val slice = coords ++ bands.map { case (n, d) =>
      NetCdf.VarSpec(n, Seq("time", "yc", "xc", "leadtime"), Seq(), d) }
    val (k1, k1S, _) = timed("sink.k1_encode")(Hdf5Write.write(dims, Seq(), slice))
    put("sink.k1_encode_s", k1S); put("sink.k1_out_mb", k1.length / 1048576.0)

    def grid(d: Array[Double], l: Int): Array[Array[Double]] =
      Array.tabulate(s.ny, s.nx)((y, x) => d((y * s.nx + x) * s.nl + l))
    val opts = CogWriter.Options(epsg = 6931, pixelScale = (1000.0, 1000.0),
      origin = (200000.0, 100000.0 + 1000.0 * (s.ny - 1)))
    // every lead time of the first file, repeated to at least 12 COGs;
    // output size counts one pass
    val cogMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cogBytes = 0L
    (0 until (12 + s.nl - 1) / s.nl).foreach { pass =>
      (0 until s.nl).foreach { l =>
        val bs = bands.map { case (n, d) => CogWriter.Band(n, Map.empty) -> grid(d, l) }
        val (n, sp) = tracer.span("sink.cog_encode", "probe") { _ =>
          CogWriter.write(bs, opts).length + CogWriter.writeOvr(bs, opts).length
        }
        cogMs += sp.durMs
        if (pass == 0) cogBytes += n
      }
    }
    put("sink.cog_encode_ms_p50", Report.quantile(cogMs.toSeq, 0.5))
    put("sink.cog_encode_ms_p90", Report.quantile(cogMs.toSeq, 0.9))
    put("sink.cog_out_mb", cogBytes / 1048576.0)
    val first = grid(bands.head._2, 0)
    val thumbMs = (1 to 12).map(_ =>
      tracer.span("sink.thumb_encode", "probe")(_ => Thumbnail.jpeg(first))._2.durMs)
    put("sink.thumb_encode_ms_p50", Report.quantile(thumbMs, 0.5))

    // ---- graft.sink STAC JSON and graft.ops over the complete catalog
    val root = s"$data/stac/catalog"
    val items = StacJsonSink.readItems(spark, root).persist()
    val nItems = items.count()
    val colls = StacJsonSink.readCollections(spark, root).collect().toSeq
    val stacWriteS = Report.median((1 to reps).map { k =>
      val dest = workDir.resolve(s"stac-$k")
      val sp = tracer.span("sink.stac_write", "probe") { _ =>
        StacJsonSink.write(dest.toString, StacCatalog("catalog", "catalog STAC catalog",
          colls.map(_.id)), colls, items)
      }._2
      Checks.delete(dest)
      sp.durMs / 1000
    })
    put("sink.stac_write_s", stacWriteS)
    put("sink.stac_read_s", timed("sink.stac_read") {
      StacJsonSink.readItems(spark, root).collect()
    }._2)
    val half = items.filter(abs(hash(col("id"))) % 2 === 0).persist()
    half.count()
    put("ops.get_or_create_s", timed("ops.get_or_create") {
      StacOps.getOrCreateItems(half, items).count() +
        StacOps.mergeCollections(colls.toDS(), colls.toDS()).collect().length
    }._2)
    half.unpersist(); items.unpersist()
    require(nItems == in.files.size, s"$nItems items in the catalog")
    out.toMap
  }
}
