package graft.source

/** Format-neutral view of a gridded forecast file — the single seam the
  * scans decode through (NetCdfSource.manifest and the one tidy reader,
  * the DSv2 `netcdf` format), so classic CDF-1/2 and netCDF-4/HDF5
  * inputs flow into the SAME tidy schema and the same downstream plans
  * (S1 completion; the reference opens either transparently via xarray,
  * ref generator.py:485,661).
  *
  * Dispatch is by magic number: `CDF\x01`/`\x02` → [[Classic]],
  * `\x89HDF\r\n\x1a\n` → [[H5]].
  */
sealed trait GridFile {
  def format: String
  def varNames: Seq[String]
  def rank(v: String): Int
  /** Dimension names of a variable, in storage order. */
  def dimNames(v: String): Seq[String]
  def shape(v: String): Seq[Int]
  def dtypeName(v: String): String
  def varAttrText(v: String, a: String): Option[String]
  /** First numeric value of a variable attribute (CF vocabulary:
    * _FillValue, missing_value, scale_factor, add_offset); text attrs
    * holding a parseable number also resolve, matching netCDF's lax
    * real-world attribute typing.
    */
  def varAttrNum(v: String, a: String): Option[Double]
  /** All numeric values of a variable attribute (flag_values-style
    * vectors; enum value maps).
    */
  def varAttrNums(v: String, a: String): Seq[Double]
  def gattText(a: String): Option[String]
  def gattNums(a: String): Seq[Double]
  /** Full numeric decode, row-major, widened to Double. */
  def readDoubles(v: String): Array[Double]
  /** Slice-pushed decode: `fixed` pins an index per DIM NAME; formats
    * with chunked storage (HDF5) skip decompressing chunks outside the
    * slice, others fall back to the full read. Output always keeps the
    * variable's full shape (pruned cells are 0 and must not be read) —
    * callers' stride math stays identical either way.
    */
  def readDoublesSliced(v: String, fixed: Map[String, Int]): Array[Double] =
    readDoubles(v)
  /** True for payload (non-coordinate) variables of the given rank. */
  def isPayload(v: String, wantRank: Int): Boolean
  /** One member of a COMPOUND variable decoded to doubles (the
    * coordinate-bounds shape; netCDF-4/HDF5 only).
    */
  def readMemberDoubles(v: String, member: String): Array[Double] =
    throw new UnsupportedOperationException(
      s"$format carries no compound variables")
  /** Ragged rows of a numeric VARIABLE-LENGTH (class 9) variable
    * (h5py vlen_dtype; netCDF-4/HDF5 only).
    */
  def readVlenRows(v: String): Array[Array[Double]] =
    throw new UnsupportedOperationException(
      s"$format carries no variable-length variables")
}

object GridFile {

  def open(bytes: Array[Byte]): GridFile =
    if (Hdf5.isHdf5(bytes)) new H5(bytes)
    else if (bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F')
      new Classic(bytes)
    else throw new IllegalArgumentException(
      "unrecognized grid file (neither NetCDF classic nor HDF5 magic)")

  /** Open through a positioned-read source — the >2 GiB path. HDF5
    * (netCDF-4) parses metadata as small ranges and fetches chunk
    * payloads as exact byte ranges, so file size is unbounded; classic
    * CDF keeps the whole-buffer contract (the reference writer's classic
    * output is per-slice and small — CDF-1/2 headers cap variable sizes
    * well below this anyway).
    */
  def open(src: Hdf5.ByteSource): GridFile = {
    val head = src.read(0, math.min(8L, src.length).toInt)
    if (Hdf5.isHdf5(head)) new H5(src)
    else if (head.length >= 4 && head(0) == 'C' && head(1) == 'D' && head(2) == 'F') {
      require(src.length <= Int.MaxValue,
        s"classic CDF of ${src.length} bytes exceeds the whole-buffer " +
          "contract; use netCDF-4/HDF5 for archives past 2 GiB")
      new Classic(src.read(0, src.length.toInt))
    } else throw new IllegalArgumentException(
      "unrecognized grid file (neither NetCDF classic nor HDF5 magic)")
  }

  /** Classic CDF-1/2 via the [[NetCdf]] codec. */
  final class Classic(bytes: Array[Byte]) extends GridFile {
    private val h = NetCdf.readHeader(bytes)
    private def v(name: String): NetCdf.Var =
      h.vars.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no variable $name"))
    override def format: String = "classic"
    override def varNames: Seq[String] = h.vars.map(_.name)
    override def rank(n: String): Int = v(n).dimIds.size
    override def dimNames(n: String): Seq[String] =
      v(n).dimIds.map(h.dims(_).name)
    override def shape(n: String): Seq[Int] = h.shape(v(n))
    override def dtypeName(n: String): String = v(n).ncType match {
      case NetCdf.NcByte => "int8"; case NetCdf.NcChar => "char"
      case NetCdf.NcShort => "int16"; case NetCdf.NcInt => "int32"
      case NetCdf.NcFloat => "float32"; case NetCdf.NcDouble => "float64"
      case NetCdf.NcUByte => "uint8"; case NetCdf.NcUShort => "uint16"
      case NetCdf.NcUInt => "uint32"; case NetCdf.NcInt64 => "int64"
      case NetCdf.NcUInt64 => "uint64"
    }
    override def varAttrText(n: String, a: String): Option[String] =
      v(n).attr(a).flatMap(at => Option(at.text))
    override def varAttrNum(n: String, a: String): Option[Double] =
      v(n).attr(a).flatMap(at =>
        at.nums.headOption.orElse(Option(at.text).flatMap(_.toDoubleOption)))
    override def varAttrNums(n: String, a: String): Seq[Double] =
      v(n).attr(a).map(_.nums).getOrElse(Nil)
    override def gattText(a: String): Option[String] =
      h.gatt(a).flatMap(at => Option(at.text))
    override def gattNums(a: String): Seq[Double] =
      h.gatt(a).map(_.nums).getOrElse(Nil)
    override def readDoubles(n: String): Array[Double] =
      NetCdf.readVariable(bytes, h, v(n))
    override def isPayload(n: String, wantRank: Int): Boolean =
      v(n).dimIds.size == wantRank
  }

  /** netCDF-4/HDF5 via the [[Hdf5]] codec; dimension names resolve
    * through DIMENSION_LIST object references.
    */
  final class H5(src: Hdf5.ByteSource) extends GridFile {
    def this(bytes: Array[Byte]) = this(new Hdf5.ArraySource(bytes))
    private val r = new Hdf5.Reader(src)
    private def ds(name: String): Hdf5.Dataset =
      r.file.dataset(name).getOrElse(
        throw new IllegalArgumentException(s"no dataset $name"))
    override def format: String = "hdf5"
    override def varNames: Seq[String] = r.file.datasets.map(_.name)
    override def rank(n: String): Int = ds(n).dims.size
    override def dimNames(n: String): Seq[String] = {
      val d = ds(n)
      if (d.isDimScale) Seq(d.name) else r.file.dimNames(d)
    }
    override def shape(n: String): Seq[Int] = ds(n).dims
    override def dtypeName(n: String): String = typeName(ds(n).dtype)
    private def typeName(t: Hdf5.H5Type): String =
      t.cls match {
        case Hdf5.ClsFloat => if (t.size == 8) "float64" else "float32"
        case Hdf5.ClsFixed =>
          val base = t.size match {
            case 1 => "8"; case 2 => "16"; case 4 => "32"; case _ => "64"
          }
          (if (t.signed) "int" else "uint") + base
        case Hdf5.ClsString => "char"
        // the names netCDF4-python reports for user-defined types
        case Hdf5.ClsEnum => s"enum ${typeName(Hdf5.numericType(t))}"
        case Hdf5.ClsCompound => "compound"
        case Hdf5.ClsBitfield => s"bitfield${t.size * 8}"
        case Hdf5.ClsOpaque =>
          if (t.opaqueTag.isEmpty) "opaque" else s"opaque(${t.opaqueTag})"
        case c => s"class$c"
      }
    override def varAttrText(n: String, a: String): Option[String] =
      ds(n).attrText(a)
    override def varAttrNum(n: String, a: String): Option[Double] =
      ds(n).attr(a).flatMap(at =>
        at.nums.headOption.orElse(Option(at.text).flatMap(_.toDoubleOption)))
    override def varAttrNums(n: String, a: String): Seq[Double] =
      ds(n).attr(a).map(_.nums).getOrElse(Nil)
    override def gattText(a: String): Option[String] =
      r.file.gatt(a).flatMap(at => Option(at.text))
    override def gattNums(a: String): Seq[Double] =
      r.file.gatt(a).map(_.nums).getOrElse(Nil)
    override def readDoubles(n: String): Array[Double] = r.readDoubles(n)
    override def readMemberDoubles(n: String, member: String): Array[Double] =
      r.readMemberDoubles(n, member)
    override def readVlenRows(n: String): Array[Array[Double]] =
      r.readVlenRows(n)
    override def readDoublesSliced(n: String,
                                   fixed: Map[String, Int]): Array[Double] = {
      if (fixed.isEmpty) readDoubles(n)
      else {
        val names = dimNames(n)
        val keep = names.map(d => fixed.get(d).map(_.toLong)).toArray
        r.readDoublesSliced(n, keep)
      }
    }
    override def isPayload(n: String, wantRank: Int): Boolean = {
      val d = ds(n)
      // only numerically-decodable classes are band payloads — a 4-D
      // compound or string variable must be skipped by the tidy scan
      // (readable through the dedicated member/string APIs), not crash it
      val numeric = Hdf5.numericType(d.dtype).cls match {
        case Hdf5.ClsFixed | Hdf5.ClsFloat => true
        case _ => false
      }
      d.dims.size == wantRank && !d.isDimScale && numeric
    }
  }
}
