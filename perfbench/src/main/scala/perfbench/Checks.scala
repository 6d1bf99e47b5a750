package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Output checks, written apart from the program's code paths: the tree
  * is walked with java.nio, JSON is read with Jackson, checksums are
  * recomputed with java.security, and file structure is verified by small
  * parsers of the TIFF, JPEG and HDF5 envelopes. Every check returns the
  * problems it found; an op with any problem counts as failed.
  */
object Checks {
  private val json = new ObjectMapper()

  /** One file under a data path: path relative to it, size, mtime, inode. */
  final case class Entry(rel: String, size: Long, mtimeNs: Long, ino: Any)

  def walk(root: Path): Map[String, Entry] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, "unix:size,lastModifiedTime,ino")
        val rel = root.relativize(p).toString
        rel -> Entry(rel, a.get("size").asInstanceOf[Long],
          a.get("lastModifiedTime").asInstanceOf[java.nio.file.attribute.FileTime]
            .to(java.util.concurrent.TimeUnit.NANOSECONDS), a.get("ino"))
      }.toMap
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def md5(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(b)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** The reference's blockwise multihash: "d510" framing around the MD5
    * of the content's MD5 digest.
    */
  def multihash(b: Array[Byte]): String = "d510" + hex(md5(md5(b)))

  /** Digest of every file under `root`, for byte-identity comparisons. */
  def digests(root: Path): Map[String, String] =
    walk(root).keys.map(r => r -> hex(md5(Files.readAllBytes(root.resolve(r))))).toMap

  // ---- file envelopes ---------------------------------------------------

  /** Classic or Big TIFF: IFD chain inside the file, every tile range
    * inside the file, first page of the expected size and band count.
    */
  def tiffProblem(b: Array[Byte], w: Int, h: Int, bands: Int): Option[String] =
    try {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      require(b.length >= 16 && b(0) == 'I' && b(1) == 'I', "not a little-endian TIFF")
      val big = bb.getShort(2) match {
        case 42 => false
        case 43 => true
        case m => throw new IllegalArgumentException(s"TIFF magic $m")
      }
      def u(off: Long, n: Int): Long = {
        require(off >= 0 && off + n <= b.length, s"read past end at $off")
        n match {
          case 1 => b(off.toInt) & 0xffL
          case 2 => bb.getShort(off.toInt) & 0xffffL
          case 4 => bb.getInt(off.toInt) & 0xffffffffL
          case 8 => bb.getLong(off.toInt)
        }
      }
      val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 6 -> 1, 7 -> 1,
        8 -> 2, 9 -> 4, 10 -> 8, 11 -> 4, 12 -> 8, 13 -> 4, 16 -> 8, 17 -> 8, 18 -> 8)
      var ifd = if (big) u(8, 8) else u(4, 4)
      var pages = 0
      while (ifd != 0) {
        require(pages < 64, "IFD chain does not end")
        val n = if (big) u(ifd, 8) else u(ifd, 2)
        val entries = (0 until n.toInt).map { i =>
          val e = ifd + (if (big) 8 + 20L * i else 2 + 12L * i)
          val tag = u(e, 2).toInt; val typ = u(e + 2, 2).toInt
          val count = if (big) u(e + 4, 8) else u(e + 4, 4)
          val size = typeSize.getOrElse(typ, 1)
          val inline = count * size <= (if (big) 8 else 4)
          val at = if (inline) e + (if (big) 12 else 8)
                   else if (big) u(e + 12, 8) else u(e + 8, 4)
          tag -> (0L until count).map(k => u(at + k * size, math.min(size, 8)))
        }.toMap
        val offsets = entries.getOrElse(324, Nil)
        val counts = entries.getOrElse(325, Nil)
        require(offsets.nonEmpty && offsets.size == counts.size, "tile tables")
        offsets.zip(counts).foreach { case (o, c) =>
          require(c > 0 && o + c <= b.length, s"tile [$o, ${o + c}) past end ${b.length}")
        }
        if (pages == 0) {
          val (pw, ph) = (entries(256).head, entries(257).head)
          require(pw == w && ph == h, s"first page ${pw}x$ph, expected ${w}x$h")
          require(entries(277).head == bands, s"${entries(277).head} bands, expected $bands")
        }
        pages += 1
        ifd = if (big) u(ifd + 8 + 20 * n, 8) else u(ifd + 2 + 12 * n, 4)
      }
      None
    } catch { case e: Exception => Some(s"TIFF: ${e.getMessage}") }

  def jpegProblem(b: Array[Byte], w: Int, h: Int): Option[String] =
    try {
      require(b.length > 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
        (b(b.length - 2) & 0xff) == 0xff && (b(b.length - 1) & 0xff) == 0xd9,
        "missing SOI/EOI markers")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      require(img != null, "undecodable")
      require(img.getWidth == w && img.getHeight == h,
        s"${img.getWidth}x${img.getHeight}, expected ${w}x$h")
      None
    } catch { case e: Exception => Some(s"JPEG: ${e.getMessage}") }

  /** HDF5 superblock: signature, and an end-of-file address equal to the
    * file's length (a truncated or padded file fails).
    */
  def hdf5Problem(b: Array[Byte]): Option[String] =
    try {
      val sig = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte)
      require(b.length > 48 && b.take(8).sameElements(sig), "no HDF5 signature")
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val eofAt = b(8) match {
        case 0 => 40
        case 1 => 44
        case 2 | 3 => 28
        case v => throw new IllegalArgumentException(s"superblock v$v")
      }
      val eof = bb.getLong(eofAt)
      require(eof == b.length, s"end-of-file address $eof, file is ${b.length} bytes")
      None
    } catch { case e: Exception => Some(s"HDF5: ${e.getMessage}") }

  // ---- the whole output tree ---------------------------------------------

  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  /** Verifies a complete preprocess output for `in` under `data`:
    * file counts per kind, the item set, every asset's size, checksum
    * and envelope, and every COG asset's band statistics.
    */
  def tree(data: Path, name: String, in: InputSet): Seq[String] = {
    val p = scala.collection.mutable.ArrayBuffer.empty[String]
    val s = in.shape
    val files = walk(data)
    val root = s"stac/catalog"
    def kind(rel: String): String =
      if (rel == "config.json") "config"
      else if (rel.startsWith(s"netcdf/$name/") && rel.endsWith(".nc")) "slice"
      else if (rel.startsWith(s"cogs/$name/") && rel.endsWith(".tif")) "cog"
      else if (rel.startsWith(s"cogs/$name/") && rel.endsWith(".tif.ovr")) "ovr"
      else if (rel.startsWith(s"cogs/$name/") && rel.endsWith(".jpg")) "thumbnail"
      else if (rel == s"$root/catalog.json") "catalog"
      else if (rel == s"$root/$name/collection.json") "collection"
      else if (rel.startsWith(s"$root/$name/") && rel.endsWith(".json")) "item"
      else "unexpected"
    val byKind = files.keys.groupBy(kind)
    val expected = Map("config" -> 1, "catalog" -> 1, "collection" -> 1,
      "slice" -> s.files, "cog" -> s.files * s.nl, "ovr" -> s.files * s.nl,
      "thumbnail" -> s.files, "item" -> s.files, "unexpected" -> 0)
    expected.foreach { case (k, n) =>
      val got = byKind.getOrElse(k, Nil).size
      if (got != n) p += s"$got $k files, expected $n" +
        (if (k == "unexpected") s": ${byKind(k).take(3).mkString(", ")}" else "")
    }

    def asset(a: JsonNode, where: String): Unit = {
      val href = a.path("href").asText()
      val f = data.resolve(href.stripPrefix("./"))
      if (!Files.isRegularFile(f)) { p += s"$where: ${a.path("key").asText()} → missing $href"; return }
      val b = Files.readAllBytes(f)
      if (a.path("size").asLong(-2) != b.length)
        p += s"$where: $href size ${a.path("size")} but ${b.length} bytes on disk"
      if (a.path("checksum").asText() != multihash(b))
        p += s"$where: $href checksum ${a.path("checksum").asText()} != ${multihash(b)}"
      val bad =
        if (href.endsWith(".tif")) tiffProblem(b, s.nx, s.ny, Inputs.Bands.size)
        else if (href.endsWith(".jpg")) jpegProblem(b, s.nx, s.ny)
        else if (href.endsWith(".nc")) hdf5Problem(b)
        else Some("unknown asset type")
      bad.foreach(m => p += s"$where: $href $m")
    }

    byKind.getOrElse("ovr", Nil).foreach { rel =>
      tiffProblem(Files.readAllBytes(data.resolve(rel)), s.nx / 2, s.ny / 2,
        Inputs.Bands.size).foreach(m => p += s"$rel $m")
    }

    val byDay = in.files.map(f => Inputs.itemId(f.day) -> f).toMap
    val items = byKind.getOrElse("item", Nil).toSeq.sorted.map(r =>
      json.readTree(data.resolve(r).toFile))
    val ids = items.map(_.path("id").asText()).toSet
    if (ids != byDay.keySet)
      p += s"item ids ${(ids -- byDay.keySet).take(3)} unexpected, " +
        s"${(byDay.keySet -- ids).take(3)} missing"
    val referenced = scala.collection.mutable.Set.empty[String]
    items.foreach { it =>
      val id = it.path("id").asText()
      val assets = it.path("assets").elements().asScala.toSeq
      val keys = assets.map(_.path("key").asText()).toSet
      val want = Set("netcdf", "thumbnail") ++ (0 until s.nl).map(l => s"cog_lead_$l")
      if (keys != want) p += s"$id: asset keys ${keys.toSeq.sorted}"
      assets.foreach { a =>
        referenced += a.path("href").asText().stripPrefix("./")
        asset(a, id)
      }
      byDay.get(id).foreach { f =>
        assets.filter(_.path("key").asText().startsWith("cog_lead_")).foreach { a =>
          val l = a.path("key").asText().stripPrefix("cog_lead_").toInt
          val bands = json.readTree(a.path("extra").path("forecast:bands").asText())
          val got = bands.elements().asScala.map(b => b.path("variable").asText() -> b).toMap
          if (got.keySet != Inputs.Bands.toSet) p += s"$id lead $l: bands ${got.keySet}"
          for ((v, b) <- got; want <- f.stats.get((v, l))) {
            val ok = close(b.path("stat_min").asDouble(), want.min, 1e-12) &&
              close(b.path("stat_max").asDouble(), want.max, 1e-12) &&
              close(b.path("stat_mean").asDouble(), want.mean, 1e-9) &&
              close(b.path("stat_stddev").asDouble(), want.stddev, 1e-6) &&
              close(b.path("valid_percent").asDouble(), want.validPercent, 1e-9)
            if (!ok) p += s"$id lead $l $v: catalog stats $b, expected $want"
          }
        }
      }
    }
    val unreferenced = (byKind.getOrElse("slice", Nil) ++ byKind.getOrElse("cog", Nil) ++
      byKind.getOrElse("thumbnail", Nil)).filterNot(referenced.contains)
    if (unreferenced.nonEmpty) p += s"files no item references: ${unreferenced.take(3)}"

    val collFile = data.resolve(s"$root/$name/collection.json")
    if (Files.exists(collFile)) {
      val c = json.readTree(collFile.toFile)
      if (c.path("id").asText() != name) p += s"collection id ${c.path("id")}"
      c.path("assets").elements().asScala.foreach(asset(_, "collection"))
    }
    val catFile = data.resolve(s"$root/catalog.json")
    if (Files.exists(catFile) &&
        !json.readTree(catFile.toFile).path("links").toString.contains(s"./$name/collection.json"))
      p += "catalog does not link the collection"
    p.toSeq
  }

  /** Files created or rewritten between two walks of the same tree. */
  def written(before: Map[String, Entry], after: Map[String, Entry]): Seq[String] =
    after.values.filter(e => before.get(e.rel).forall(b =>
      b.size != e.size || b.mtimeNs != e.mtimeNs || b.ino != e.ino)).map(_.rel).toSeq.sorted
}
