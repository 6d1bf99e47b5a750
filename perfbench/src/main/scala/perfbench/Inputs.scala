package perfbench

import java.nio.file.{Files, Path}
import graft.source.{Hdf5Write, NetCdf, NetCdfFixture}

/** Grid shape of one workload's input: `files` daily forecast files, each
  * holding one init time over (yc, xc, leadtime) with the two bands of
  * [[NetCdfFixture.spec]]. `hdf5` selects netCDF-4 (shuffle + deflate)
  * over classic CDF-1.
  */
final case class Shape(files: Int, ny: Int, nx: Int, nl: Int, hdf5: Boolean) {
  def describe: String =
    s"${files}x(1x${ny}x${nx}x$nl) ${if (hdf5) "netCDF-4" else "classic"}"
}

/** Band statistics as the catalog states them (numpy nan-semantics,
  * ddof 0, valid percent floored to two decimals).
  */
final case class Stats(min: Double, max: Double, mean: Double,
                       stddev: Double, validPercent: Double)

/** One generated input file: its init day (days since 2025-01-01, the
  * fixture's time units) and expected statistics per (band, leadtime).
  */
final case class InputFile(path: Path, day: Int, stats: Map[(String, Int), Stats])

/** A generated input directory; `bands` is the first file's payload,
  * kept for the encoder probes.
  */
final case class InputSet(dir: Path, shape: Shape, files: Seq[InputFile],
                          bands: Seq[(String, Array[Double])]) {
  def glob: String = s"$dir/*.nc"
  def bytes: Long = files.map(f => Files.size(f.path)).sum
}

/** Seeded forecast generator. Dims, coordinates and attributes come from
  * [[NetCdfFixture.spec]]; the two band payloads are replaced by a smooth
  * sea-ice-like field: concentration saturates at exactly 1 inside the
  * pack and 0 in open water, with a wavy ice edge that retreats with lead
  * time, light texture inside the pack, and land as NaN blobs shared by
  * both bands and every lead time. Files go through the program's own
  * writers (`NetCdf.write`, `Hdf5Write.write`). Same seed, same bytes.
  */
object Inputs {
  val Bands: Seq[String] = Seq("sic_mean", "sic_stddev")
  val FirstDay = java.time.LocalDate.of(2025, 1, 1)

  /** Parameters drawn once per (seed, file). */
  private final case class Field(phase: Array[Double], edge: Double,
                                 land: Seq[(Double, Double, Double)])

  private def field(seed: Long, file: Int): Field = {
    val r = new java.util.SplittableRandom(seed * 1000003L + file)
    val phase = Array.fill(6)(r.nextDouble() * 2 * math.Pi)
    // land: a few discs hugging the grid border, like coastlines around
    // a polar basin
    val land = (0 until 3 + r.nextInt(3)).map { _ =>
      val a = r.nextDouble() * 2 * math.Pi
      val d = 0.42 + r.nextDouble() * 0.12
      (0.5 + d * StrictMath.cos(a), 0.5 + d * StrictMath.sin(a),
        0.06 + r.nextDouble() * 0.08)
    }
    Field(phase, 0.30 + r.nextDouble() * 0.06, land)
  }

  /** Band payloads in the fixture's (time=1, yc, xc, leadtime) order. */
  def payload(seed: Long, file: Int, ny: Int, nx: Int, nl: Int)
      : Seq[(String, Array[Double])] = {
    val f = field(seed, file)
    val p = f.phase
    val mean = new Array[Double](ny * nx * nl)
    val std = new Array[Double](ny * nx * nl)
    var y = 0
    while (y < ny) {
      val v = (y + 0.5) / ny
      var x = 0
      while (x < nx) {
        val u = (x + 0.5) / nx
        val isLand = f.land.exists { case (cu, cv, rad) =>
          (u - cu) * (u - cu) + (v - cv) * (v - cv) < rad * rad }
        val du = u - 0.5; val dv = v - 0.5
        val r = StrictMath.sqrt(du * du + dv * dv)
        val th = StrictMath.atan2(dv, du)
        val wave = 0.05 * StrictMath.sin(3 * th + p(0)) +
          0.03 * StrictMath.sin(5 * th + p(1))
        val texture = 0.04 * StrictMath.sin(23 * u + p(2)) *
          StrictMath.sin(19 * v + p(3))
        var l = 0
        while (l < nl) {
          val i = (y * nx + x) * nl + l
          if (isLand) { mean(i) = Double.NaN; std(i) = Double.NaN }
          else {
            val edge = f.edge + wave - 0.004 * l
            val c0 = 0.5 - 0.5 * StrictMath.tanh((r - edge) / 0.02)
            val c = if (c0 > 0.15) math.min(1.0, c0 - texture.abs) else c0
            mean(i) = c
            std(i) = 0.25 * c * (1 - c) * (1 + 0.1 * l)
          }
          l += 1
        }
        x += 1
      }
      y += 1
    }
    Seq("sic_mean" -> mean, "sic_stddev" -> std)
  }

  def stats(data: Array[Double], nl: Int, l: Int): Stats = {
    var n = 0L; var total = 0L
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var sum = 0.0
    var i = l
    while (i < data.length) {
      val v = data(i); total += 1
      if (!v.isNaN) {
        n += 1; sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      i += nl
    }
    val mean = sum / n
    var ss = 0.0
    i = l
    while (i < data.length) {
      val v = data(i)
      if (!v.isNaN) ss += (v - mean) * (v - mean)
      i += nl
    }
    Stats(mn, mx, mean, math.sqrt(ss / n),
      math.floor(n * 100.0 / total * 100) / 100)
  }

  /** Renders one file exactly as [[generate]] writes it. */
  def render(shape: Shape, bands: Seq[(String, Array[Double])],
             day: Int): Array[Byte] = {
    val (dims, gatts, vars) =
      NetCdfFixture.spec(1, shape.ny, shape.nx, shape.nl, day.toDouble)
    val data = bands.toMap
    val withPayload = vars.map(v => data.get(v.name).fold(v)(d => v.copy(data = d)))
    if (shape.hdf5) Hdf5Write.write(dims, gatts, withPayload)
    else NetCdf.write(dims, gatts, withPayload)
  }

  /** Writes `shape.files` daily files into `dir` (created fresh). The
    * first init day is drawn from the seed; file i is that day + i.
    */
  def generate(dir: Path, shape: Shape, seed: Long): InputSet = {
    Files.createDirectories(dir)
    val day0 = new java.util.SplittableRandom(seed).nextInt(365)
    var first = Seq.empty[(String, Array[Double])]
    val files = (0 until shape.files).map { i =>
      val bands = payload(seed, i, shape.ny, shape.nx, shape.nl)
      if (i == 0) first = bands
      val path = dir.resolve(f"forecast_$i%03d.nc")
      Files.write(path, render(shape, bands, day0 + i))
      val st = for {
        (name, data) <- bands; l <- 0 until shape.nl
      } yield (name, l) -> stats(data, shape.nl, l)
      InputFile(path, day0 + i, st.toMap)
    }
    InputSet(dir, shape, files, first)
  }

  /** Item id the pipeline must give the init of `day`. */
  def itemId(day: Int): String =
    s"forecast_init_${FirstDay.plusDays(day.toLong)}T00-00-00Z"
}
