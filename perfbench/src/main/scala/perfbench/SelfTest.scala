package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Self-test of the output checks: clean ops must pass, and each planted
  * fault must turn its op into a failed op.
  *
  *  - a COG truncated to half, with its item's size and checksum rewritten
  *    to match, so only the TIFF envelope check can see it;
  *  - an item whose netCDF asset carries a wrong checksum;
  *  - a re-run during which one output file is rewritten with its own
  *    bytes.
  */
object SelfTest {
  private val json = new ObjectMapper()
  val shape = Shape(2, 48, 40, 3, hdf5 = true)

  private def itemFiles(data: Path): Seq[Path] =
    Checks.walk(data).keys.filter(r => r.startsWith("stac/catalog/sic_north/") &&
      !r.endsWith("collection.json")).toSeq.sorted.map(data.resolve)

  /** Rewrites the first asset of the first item whose key starts with
    * `key` through `f`.
    */
  private def editAsset(data: Path, key: String)(f: ObjectNode => Unit): Path = {
    val item = itemFiles(data).head
    val doc = json.readTree(item.toFile)
    val it = doc.path("assets").elements()
    var a = it.next()
    while (!a.path("key").asText().startsWith(key)) a = it.next()
    f(a.asInstanceOf[ObjectNode])
    Files.writeString(item, json.writeValueAsString(doc))
    data.resolve(a.path("href").asText().stripPrefix("./"))
  }

  def truncateCog(data: Path): Unit = {
    var cog: Path = null
    editAsset(data, "cog_lead_") { a =>
      cog = data.resolve(a.path("href").asText().stripPrefix("./"))
      val b = Files.readAllBytes(cog)
      val cut = java.util.Arrays.copyOf(b, b.length / 2)
      Files.write(cog, cut)
      a.put("size", cut.length.toLong)
      a.put("checksum", Checks.multihash(cut))
    }
  }

  def wrongChecksum(data: Path): Unit =
    editAsset(data, "netcdf") { a =>
      val c = a.path("checksum").asText()
      a.put("checksum", c.dropRight(1) + (if (c.last == '0') "1" else "0"))
    }

  def rewriteFile(data: Path): Unit = {
    val cog = Checks.walk(data).keys.filter(_.endsWith(".tif")).toSeq.sorted.head
    val p = data.resolve(cog)
    val b = Files.readAllBytes(p)
    Thread.sleep(20)
    Files.write(p, b)
  }

  def run(spark: SparkSession, work: Path, seed: Long): Boolean = {
    Checks.delete(work)
    val cold = new Bench(spark, Workload("self-test-cold", shape, rerun = false, 0.5, 1.0),
      seed, work)
    val rerun = new Bench(spark, Workload("self-test-rerun", shape, rerun = true, 1.0, 1.0),
      seed, work)
    val in = Inputs.generate(work.resolve("in"), shape, seed)
    val primedData = work.resolve("primed")
    val primeOp = cold.op(in, primedData, None)
    val primed = rerun.prime(primedData)
    val cases: Seq[(String, Boolean, () => Op)] = Seq(
      ("clean cold op", true, () => cold.op(in, work.resolve("clean"), None)),
      ("clean re-run op", true, () => rerun.op(in, primedData, Some(primed))),
      ("truncated COG, catalog consistent", false,
        () => cold.op(in, work.resolve("truncated"), None, truncateCog)),
      ("wrong item checksum", false,
        () => cold.op(in, work.resolve("checksum"), None, wrongChecksum)),
      ("re-run rewrites a file", false,
        () => rerun.op(in, primedData, Some(primed), rewriteFile)))
    val results = ("priming op", true, primeOp) +: cases.map { case (n, ok, f) => (n, ok, f()) }
    val good = results.map { case (name, wantOk, o) =>
      val pass = o.ok == wantOk
      println(s"# self-test ${if (pass) "PASS" else "FAIL"}: $name → " +
        (if (o.ok) "op passed" else s"op failed: ${o.problems.head}"))
      pass
    }
    Checks.delete(work)
    val allGood = good.forall(identity)
    println(s"""{"self_test": ${if (allGood) "\"pass\"" else "\"fail\""}, """ +
      s""""cases": ${good.size}, "passed": ${good.count(identity)}}""")
    allGood
  }
}
