package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.source.NetCdfFixture

/** Closed-form tidy rows of [[NetCdfFixture.spec]]: the expected
  * scanlines the readers are checked against.
  */
object FixtureRows {
  /** The (t, y, l) scanline of a (t, y, x, l)-ordered fixture grid. */
  def scanline(data: Array[Double], ny: Int, nx: Int, nl: Int,
               t: Int, y: Int, l: Int): Seq[Double] =
    (0 until nx).map(x => data(((t * ny + y) * nx + x) * nl + l))

  /** NaN-safe comparison form (NaN != NaN under ===). */
  def nanSafe(s: Seq[Double]): Seq[Double] =
    s.map(d => if (d.isNaN) -1.0 else d)
}

/** DataSource V2 "netcdf" format — the one tidy reader: short-name
  * registration, the decode against the fixture's closed-form arrays,
  * path resolution, and the header-only pruning fast path.
  */
class NetCdfV2Spec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft-v2")
  private lazy val glob: String = NetCdfFixture.writeFiles(dir, n = 2)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("format(\"netcdf\") scans by short name with the tidy schema") {
    val df = spark.read.format("netcdf").load(glob)
    assert(df.columns.toSeq === Seq("path", "variable", "time_idx", "time",
      "leadtime_idx", "leadtime", "y_idx", "y", "xs", "values"))
    // vars(2) × time(1) × leadtime(3) × y(8) per file × 2 files
    assert(df.count() === 2 * 2 * 1 * 3 * 8)
  }

  test("full decode matches the fixture's closed-form arrays") {
    val v2 = spark.read.format("netcdf").load(glob)
      .select(col("variable"), col("time_idx"), col("leadtime_idx"),
        col("y_idx"), col("y"), explode(col("values")).as("v"))
      .agg(count(lit(1)), sum(when(!isnan(col("v")), col("v"))), sum(col("y")))
      .head()
    // the same three aggregates, folded over the fixture's own arrays
    // (both files hold identical payloads; only the time coord differs)
    val (_, _, vars) = NetCdfFixture.spec(nt = 1)
    val ys = vars.find(_.name == "yc").get.data.map(_ * 1000) // km → m
    val bands = vars.filter(_.dims.size == 4)
    val cells = bands.map(_.data.length).sum
    val vSum = bands.map(_.data.filterNot(_.isNaN).sum).sum
    val ySum = bands.map(b => b.data.indices.map(i => ys(i / (8 * 3))).sum).sum
    assert(v2.getLong(0) === 2L * cells)
    assert(math.abs(v2.getDouble(1) - 2 * vSum) < 1e-9)
    assert(math.abs(v2.getDouble(2) - 2 * ySum) < 1e-6)
    // and every scanline exactly: values, x and y coords, time coord
    val rows = spark.read.format("netcdf").load(glob).collect()
    assert(rows.length === 2 * 2 * 3 * 8)
    val xs = vars.find(_.name == "xc").get.data.map(_ * 1000).toSeq
    rows.foreach { r =>
      val v = r.getAs[String]("variable")
      val (y, l) = (r.getAs[Int]("y_idx"), r.getAs[Int]("leadtime_idx"))
      val want = FixtureRows.scanline(
        bands.find(_.name == v).get.data, 8, 8, 3, 0, y, l)
      assert(FixtureRows.nanSafe(r.getSeq[Double](r.fieldIndex("values"))) ===
        FixtureRows.nanSafe(want), s"$v y=$y l=$l")
      assert(r.getSeq[Double](r.fieldIndex("xs")) === xs)
      assert(r.getAs[Double]("y") === ys(y))
      assert(r.getAs[Double]("leadtime") === l.toDouble)
      val file = r.getAs[String]("path").takeRight(5).take(2).toInt
      assert(r.getAs[Double]("time") === file.toDouble)
    }
  }

  test("NetCdfSource.tidy is the netcdf format: same schema and rows") {
    val tidy = graft.source.NetCdfSource.tidy(spark, glob)
    val v2 = spark.read.format("netcdf").load(glob)
    assert(tidy.schema === v2.schema)
    // the tuple-encoder schema the tidy scan has always had
    assert(tidy.schema("time_idx").nullable === false)
    assert(tidy.schema("values").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))
    assert(rowsOf(tidy) === rowsOf(v2))
  }

  test("a path that matches nothing fails in both entry points") {
    val missing = s"$dir/no_such_*.nc"
    Seq[() => Any](
      () => spark.read.format("netcdf").load(missing).count(),
      () => graft.source.NetCdfSource.tidy(spark, missing).count(),
      // one good and one typo'd pattern still fails
      () => spark.read.format("netcdf").load(s"$glob,$missing").count()
    ).foreach { scan =>
      val e = intercept[IllegalArgumentException](scan())
      assert(e.getMessage.contains("path does not exist"), e.getMessage)
    }
  }

  test("comma-joined lists, multi-path loads and directories read the " +
    "same rows as the glob") {
    val files = Seq("forecast_00.nc", "forecast_01.nc").map(f => s"$dir/$f")
    // a marker file beside the data is skipped by the directory listing
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    val want = rowsOf(spark.read.format("netcdf").load(glob))
    assert(want.length === 96)
    assert(rowsOf(spark.read.format("netcdf").load(files.mkString(","))) === want)
    assert(rowsOf(spark.read.format("netcdf").load(files: _*)) === want)
    assert(rowsOf(spark.read.format("netcdf").load(dir.toString)) === want)
    assert(rowsOf(graft.source.NetCdfSource.tidy(spark, files.mkString(","))) ===
      want)
    assert(rowsOf(graft.source.NetCdfSource.tidy(spark, dir.toString)) === want)
  }

  test("tasks read through the session Hadoop conf, not a bare " +
    "Configuration (custom scheme, FileSystem cache off)") {
    // the scheme is registered ONLY in the session conf, and the cache
    // is off, so no task can borrow a driver-side FileSystem instance
    withSQLConf(
      "fs.graftmock.impl" -> classOf[MockObjectStoreFs].getName,
      "fs.graftmock.impl.disable.cache" -> "true") {
      val mock = graft.source.NetCdfSource.tidy(spark, s"graftmock:$glob")
      val got = mock.drop("path").collect().map(_.toString).sorted.toSeq
      assert(got === rowsOf(spark.read.format("netcdf").load(glob).drop("path")))
      assert(mock.select("path").distinct().collect()
        .forall(_.getString(0).startsWith("graftmock:")))
    }
  }

  test("a header-only scan of a bad-layout file fails like a full scan") {
    val bad = Files.createTempDirectory("graft-v2-bad")
    val (dims, gatts, vars) = NetCdfFixture.spec(nt = 1)
    // the band stored (time, xc, yc, leadtime): same shape, wrong layout
    val swapped = vars.map(v =>
      if (v.name == "sic_mean") v.copy(dims = Seq("time", "xc", "yc", "leadtime"))
      else v)
    Files.write(bad.resolve("bad.nc"),
      graft.source.NetCdf.write(dims, gatts, swapped))
    def layoutFailure(scan: => Any): Unit = {
      val e = intercept[Exception](scan)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage)
          .contains("unexpected band layout")), e.toString)
    }
    val df = spark.read.format("netcdf").load(s"$bad/*.nc")
    layoutFailure(df.collect())                         // full decode
    layoutFailure(df.select("variable", "y").collect()) // header-only
    layoutFailure(df.count())                           // header-only
  }

  test("column pruning reaches the reader: metadata query plans a payload-free scan") {
    val meta = spark.read.format("netcdf").load(glob)
      .select("path", "variable", "leadtime")
    val scanDesc = meta.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=[path,variable,leadtime]"),
      s"pruned columns not pushed into the scan:\n$scanDesc")
    // and the header-only path yields the same grain as the full decode
    assert(meta.distinct().count() === 2 * 2 * 3)
    // y values from the header path are unit-normalized like the full path
    val ys = spark.read.format("netcdf").load(glob)
      .select("y").distinct().collect().map(_.getDouble(0)).sorted
    assert(ys.head === 100000.0)
  }

  test("oversized files split into per-(variable, leadtime) partitions " +
    "with identical results") {
    // split_bytes=1 forces every file past the threshold: 2 vars × 3
    // leadtimes × 2 files = 12 payload partitions instead of 2
    val split = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
    assert(split.rdd.getNumPartitions === 12)
    val whole = spark.read.format("netcdf").load(glob)
    assert(whole.rdd.getNumPartitions === 2)
    assert(split.collect().map(_.toString).sorted.toSeq ===
      whole.collect().map(_.toString).sorted.toSeq)
    // pushed predicates prune sub-partitions at PLANNING time: one band,
    // one leadtime → one partition per file
    val pruned = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
      .filter(col("variable") === "sic_mean" && col("leadtime_idx") === 2)
    assert(pruned.rdd.getNumPartitions === 2)
    assert(pruned.count() === 2 * 8) // files × y rows
    // header-only scans never split (the payload is never read)
    val meta = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
      .select("path", "variable", "leadtime")
    assert(meta.rdd.getNumPartitions === 2)
  }

  test("variable/slice predicates push into the scan and stay exact") {
    val df = spark.read.format("netcdf").load(glob)
      .filter(col("variable") === "sic_mean" && col("leadtime_idx") === 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("variable IN (sic_mean)") &&
      plan.contains("leadtime_idx=1"),
      s"predicates not pushed into the scan:\n$plan")
    // results identical to post-filtering the unpushed scan
    val pushed = df.select("variable", "time_idx", "leadtime_idx", "y_idx")
      .collect().map(_.toString).sorted.toSeq
    val naive = spark.read.format("netcdf").load(glob)
      .select("variable", "time_idx", "leadtime_idx", "y_idx", "values")
      .where("variable = 'sic_mean' and leadtime_idx = 1")
      .select("variable", "time_idx", "leadtime_idx", "y_idx")
      .collect().map(_.toString).sorted.toSeq
    assert(pushed === naive && pushed.nonEmpty)
    assert(pushed.length === 2 * 1 * 1 * 8) // files × time × leadtime × y
  }

  test("Extensible Array (unlimited time) archives scan through the V2 " +
    "format with pushdown parity") {
    // the appendable-archive rendering: per-timestep chunks behind the
    // v4 EA index; 10 steps keep the unit spec fast (q82 walks the
    // full 34-step tier set e2e)
    val eaGlob = NetCdfFixture.writeFilesUnlimited(
      Files.createTempDirectory("graft-v2-ea"), n = 2, nt = 10)
    val df = spark.read.format("netcdf").load(eaGlob)
    assert(df.count() === 2 * 2 * 10 * 3 * 8)
    // slice predicate prunes and stays exact across the EA decode
    val sliced = df.filter(col("variable") === "sic_mean" &&
      col("time_idx") === 7)
    assert(sliced.count() === 2 * 1 * 1 * 3 * 8)
    val vSum = sliced
      .select(explode(col("values")).as("v"))
      .agg(sum(when(!isnan(col("v")), col("v")))).head().getDouble(0)
    // closed form: sic_mean's t=7 slice of each file's fixture grid
    val want = (0 until 2).map { i =>
      val (_, _, vars) = NetCdfFixture.spec(nt = 10, tStart = i * 10.0)
      val data = vars.find(_.name == "sic_mean").get.data
      (0 until 8).flatMap(y => (0 until 3).flatMap(l =>
        FixtureRows.scanline(data, 8, 8, 3, 7, y, l))).filterNot(_.isNaN).sum
    }.sum
    assert(math.abs(vSum - want) < 1e-9)
  }
}
