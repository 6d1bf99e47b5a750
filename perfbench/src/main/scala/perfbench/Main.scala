package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.pipeline.{Ingest, Preprocess}

/** A benchmark workload: the input shape, whether timed ops re-run over
  * a complete output (the daily cron re-run), which share of the items
  * already exists in pgSTAC when ingest runs, and the nominal seconds of
  * one op, which turns `--seconds` into a fixed op count so every run
  * times the same ops whatever the machine's speed.
  */
final case class Workload(name: String, shape: Shape, rerun: Boolean,
                          seededShare: Double, nominalOpS: Double) {
  def ops(seconds: Int): Int = math.max(Main.MinOps, math.round(seconds / nominalOpS).toInt)
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("canonical-cold", Shape(1, 432, 432, 4, hdf5 = false),
      rerun = false, seededShare = 0.0, nominalOpS = 9.0),
    Workload("canonical-rerun", Shape(1, 432, 432, 4, hdf5 = false),
      rerun = true, seededShare = 1.0, nominalOpS = 6.0),
    Workload("daily-backfill", Shape(8, 64, 64, 10, hdf5 = true),
      rerun = false, seededShare = 0.5, nominalOpS = 10.0))
}

/** Result of one timed op: `Preprocess.run`, then one or more `Ingest.run`
  * calls over the catalog it wrote, whose wall times are `ingestS`.
  */
final case class Op(startMs: Double, preEndMs: Double, endMs: Double,
                    ingestS: Seq[Double],
                    heapMb: Option[Double], outBytes: Long, filesWritten: Int,
                    ingest: Option[Ingest.Result], statements: Long,
                    problems: Seq[String]) {
  def preS: Double = (preEndMs - startMs) / 1000
  def ingS: Double = Report.median(ingestS)
  def ok: Boolean = problems.isEmpty
}

/** Digests of the catalog documents the priming run wrote; the re-run
  * must leave them byte-identical.
  */
final case class Primed(catalog: Map[String, String])

final class Bench(spark: SparkSession, w: Workload, seed: Long, work: Path) {
  val collection = "sic_north"

  /** Pre-seeded pgSTAC keys: none, every other init, or all of them. */
  def seeded(in: InputSet): (Set[String], Set[(String, String)]) = {
    val ids = in.files.sortBy(_.day).map(f => Inputs.itemId(f.day))
    val keep =
      if (w.seededShare >= 1) ids
      else if (w.seededShare > 0) ids.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
      else Nil
    (if (keep.isEmpty) Set.empty else Set(collection), keep.map(collection -> _).toSet)
  }

  /** One op over `in` into `data`, then every output check. The op
    * ingests its catalog `ingestReps` times, each call with the same
    * pre-seeded keys and checked alike. `plant` runs between the op and its
    * checks; the checker's self-test uses it to damage the output.
    */
  def op(in: InputSet, data: Path, primed: Option[Primed],
         plant: Path => Unit = _ => (), ingestReps: Int = 1): Op = {
    val before = Checks.walk(data)
    val (colls, keys) = seeded(in)
    val n = in.files.size
    val problems = ArrayBuffer.empty[String]
    System.gc()
    HeapMonitor.reset()
    val t0 = Clock.ms
    var t1 = Double.NaN; var t2 = Double.NaN
    val ingestS = ArrayBuffer.empty[Double]
    var ingest: Option[Ingest.Result] = None
    var statements = 0L
    try {
      val pre = Preprocess.run(spark, in.glob,
        Preprocess.Options(name = collection, dataPath = data.toString))
      t1 = Clock.ms
      val slices = if (primed.isDefined) 0 else n
      if (pre.nItems != n || pre.nSlices != slices)
        problems += s"preprocess reported ${pre.nItems} items, ${pre.nSlices} slices; " +
          s"expected $n, $slices"
      val collLoaded = if (colls.isEmpty) 1 else 0
      (1 to ingestReps).foreach { _ =>
        Ingest.DryRunClient.reset()
        val s0 = Clock.ms
        val r = Ingest.run(spark, pre.catalogRoot, new Ingest.DryRunClient(colls, keys))
        ingestS += (Clock.ms - s0) / 1000
        ingest = Some(r)
        statements = Ingest.DryRunClient.statements.get()
        if (r.itemsLoaded + r.itemsSkipped != n || r.itemsSkipped != keys.size ||
            r.collectionsLoaded != collLoaded || r.collectionsSkipped != 1 - collLoaded)
          problems += s"ingest $r; expected ${n - keys.size} items loaded, ${keys.size} " +
            s"skipped, $collLoaded collection loaded"
        if (statements != r.collectionsLoaded + r.itemsLoaded)
          problems += s"ingest issued $statements statements for " +
            s"${r.collectionsLoaded + r.itemsLoaded} loads"
      }
      t2 = Clock.ms
    } catch {
      case t: Throwable => problems += s"${t.getClass.getName}: ${t.getMessage}"
    }
    val heap = HeapMonitor.peakMb
    plant(data)
    val after = Checks.walk(data)
    val written = Checks.written(before, after)
    if (problems.isEmpty) problems ++= Checks.tree(data, collection, in)
    primed.foreach { p =>
      // the catalog documents may be rewritten, but only byte-identically
      val dataWritten = written.filterNot(_.startsWith("stac/"))
      if (dataWritten.nonEmpty)
        problems += s"re-run wrote ${dataWritten.size} files: ${dataWritten.take(3).mkString(", ")}"
      if (Checks.digests(data.resolve("stac")) != p.catalog)
        problems += "catalog is not byte-identical to the priming run's"
    }
    Op(t0, t1, t2, ingestS.toSeq, heap, after.values.map(_.size).sum, written.size, ingest,
      statements, problems.distinct.toSeq)
  }

  def prime(data: Path): Primed =
    Primed(Checks.digests(data.resolve("stac")))

  /** The set-up: generate the inputs, run the first op in the JVM over
    * them, then one untimed op of the timed kind, with as many ingest calls
    * as a timed op, while JIT and codegen settle. For the re-run workload
    * the first op is the priming run whose output every later op re-runs
    * over. Returns the inputs, the first op's output, the set-up seconds
    * (checks not counted) and the set-up ops.
    */
  def setup(): (InputSet, Path, Double, Seq[Op]) = {
    val t0 = Clock.ms
    val in = Inputs.generate(work.resolve("in"), w.shape, seed)
    val genS = (Clock.ms - t0) / 1000
    val data = work.resolve("setup")
    val first = op(in, data, None)
    val warm =
      if (w.rerun) op(in, data, Some(prime(data)), ingestReps = Main.IngestReps)
      else {
        val d = work.resolve("warm")
        try op(in, d, None, ingestReps = Main.IngestReps) finally Checks.delete(d)
      }
    val ops = Seq(first, warm)
    (in, data, genS + ops.map(o => (o.endMs - o.startMs) / 1000).sum, ops)
  }
}

object Main {
  val MinOps = 2
  /** `Ingest.run` calls in each untraced timed op. One call takes a few
    * hundred ms, so `ingest_s` is the median over all of them.
    */
  val IngestReps = 3

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, selfTest: Boolean = false,
                        work: Path = Paths.get(".bench_build", "perfbench"),
                        commit: String = "unknown")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--commit" :: v :: t => parse(t, a.copy(commit = v))
    case "--self-test" :: t => parse(t, a.copy(selfTest = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    HeapMonitor.install()
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = Clock.ms
    val spark = graft.GraftSession.build(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms - t0) / 1000
    val ok =
      try {
        if (a.selfTest) SelfTest.run(spark, a.work.resolve("self-test"), a.seed)
        else {
          val w = Workload.all.find(_.name == a.workload).getOrElse(
            throw new IllegalArgumentException(s"unknown workload '${a.workload}'; " +
              s"one of ${Workload.all.map(_.name).mkString(", ")}"))
          run(spark, w, a, cores, sessionS)
          true
        }
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def run(spark: SparkSession, w: Workload, a: Args, cores: Int, sessionS: Double): Unit = {
    val work = a.work.resolve("run").resolve(w.name)
    Checks.delete(work)
    val bench = new Bench(spark, w, a.seed, work)

    val (in, setupData, setupS, setupOps) = bench.setup()
    println(f"# set-up: $setupS%.3f s; its ops: " + setupOps.map(o =>
      f"preprocess ${o.preS}%.3f s, ingest ${o.ingS}%.3f s (median)").mkString("; "))
    val setupProblems = setupOps.flatMap(_.problems).map(p => s"set-up op: $p")
    val primed = if (w.rerun) Some(bench.prime(setupData)) else None
    if (!w.rerun && !a.trace) Checks.delete(setupData)

    val listener = new JobListener
    val tracer = new Tracer(listener)
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val probes =
      if (a.trace) new Probes(spark, tracer, listener, in, setupData,
        work.resolve("probe"), reps = 3).run()
      else Map.empty[String, Double]
    if (a.trace && !w.rerun) Checks.delete(setupData)

    // ---- timed ops, as many as `--seconds` holds at the workload's
    // nominal op time. A traced run alternates untraced and traced ops, at
    // least three, so that a traced op sits between two untraced ones and
    // the JIT still settling does not count as tracing overhead.
    val ops = ArrayBuffer.empty[(Op, Boolean)]
    val nOps = if (a.trace) math.max(3, w.ops(a.seconds)) else w.ops(a.seconds)
    while (ops.size < nOps) {
      val traced = a.trace && ops.size % 2 == 1
      val data = if (w.rerun) setupData else work.resolve(s"op-${ops.size}")
      if (a.trace) {
        if (traced) spark.sparkContext.addSparkListener(listener)
        else spark.sparkContext.removeSparkListener(listener)
      }
      val o = bench.op(in, data, primed, ingestReps = if (traced) 1 else IngestReps)
      if (traced) {
        // the op's last task and job events reach the listener before it
        // is removed for the next, untraced op
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val id = tracer.record("op", "op", tracer.runId, o.startMs, o.endMs)
        tracer.record("preprocess", "phase", id, o.startMs, o.preEndMs)
        tracer.record("ingest", "phase", id, o.preEndMs, o.endMs)
      }
      if (!w.rerun) Checks.delete(data)
      ops += o -> traced
      println(f"# op ${ops.size}%d${if (traced) " traced" else ""}%s: preprocess " +
        f"${o.preS}%.3f s, ingest ${o.ingestS.map(t => f"$t%.3f").mkString(" ")}%s s, heap peak " +
        f"${o.heapMb.getOrElse(Double.NaN)}%.1f MB${if (o.ok) "" else ", FAILED"}%s")
      o.problems.take(5).foreach(p => println(s"#   $p"))
    }
    val all = ops.map(_._1).toSeq
    val timed = all.filter(_.ok)
    val failed = all.count(!_.ok) + (if (setupProblems.isEmpty) 0 else 1)
    setupProblems.take(5).foreach(p => println(s"# FAILED $p"))

    val untraced = ops.filter(!_._2).map(_._1).filter(_.ok).toSeq
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "preprocess_s" -> Report.median(untraced.map(_.preS)),
      "ingest_s" -> Report.median(untraced.flatMap(_.ingestS)),
      "output_bytes_per_input_byte" -> Report.median(untraced.map(_.outBytes.toDouble / in.bytes)),
      "heap_peak_mb" -> Report.median(untraced.flatMap(_.heapMb)))
    val info = Seq(
      "session_start_s" -> sessionS,
      "files_written" -> Report.median(timed.map(_.filesWritten.toDouble)),
      "ops_failed_frac" -> failed.toDouble / math.max(1, all.size))

    val perLayer =
      if (!a.trace) Seq.empty
      else perLayerMetrics(spark, w, a, tracer, probes, ops.toSeq, cores)

    val env = Seq(
      "workload" -> Report.str(w.name), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cores" -> cores.toString,
      "xmx_mb" -> Report.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm" -> Report.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> Report.str(spark.version),
      "commit" -> Report.str(a.commit),
      "input_shape" -> Report.str(w.shape.describe),
      "input_bytes" -> in.bytes.toString,
      "ops" -> all.size.toString)
    val envJson = env.map { case (k, v) => s"${Report.str(k)}: $v" }.mkString("{", ", ", "}")
    println(s"# env $envJson")
    (endToEnd ++ info ++ perLayer).foreach { case (k, v) =>
      println(f"# $k%-34s ${Report.num(v)}%s ${Report.unit(k)}")
    }
    val metrics = if (a.trace) perLayer else endToEnd
    val result = s"""{"correct": ${failed == 0}, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": ${Report.metricsJson(metrics)}}"""
    val resDir = a.work.resolve("results")
    Files.createDirectories(resDir)
    Files.writeString(resDir.resolve(s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      s"""{"env": $envJson, "metrics": ${Report.metricsJson(endToEnd ++ info ++ perLayer)}, """ +
        s""""result": $result}""" + "\n")
    if (!w.rerun) Checks.delete(work)
    println(result)
  }

  private def perLayerMetrics(spark: SparkSession, w: Workload, a: Args, tracer: Tracer,
                              probes: Map[String, Double],
                              ops: Seq[(Op, Boolean)], cores: Int): Seq[(String, Double)] = {
    val spans = tracer.finish(spark.sparkContext)
    val self = (s: Span) => tracer.selfMs(s, spans)
    val spanFile = a.work.resolve("spans")
      .resolve(s"${w.name}-seed${a.seed}.json")
    Files.createDirectories(spanFile.getParent)
    Files.writeString(spanFile, Spans.toJson(spans, self))
    println(s"# spans written to $spanFile (${spans.size} spans)")
    spans.filter(_.kind != "spark-job").groupBy(_.name).toSeq.sortBy(_._1).foreach {
      case (name, ss) =>
        println(f"# self time $name%-24s ${ss.map(self).sum / 1000}%.4f s over ${ss.size} spans")
    }

    val tracedOps = ops.filter(_._2).map(_._1).filter(_.ok)
    val untracedOps = ops.filter(!_._2).map(_._1).filter(_.ok)
    val opSpans = spans.filter(_.kind == "op")
    // Spark counters of each traced op: the jobs under its span
    val perOp = opSpans.map { op =>
      val jobs = spans.filter(j => j.kind == "spark-job" &&
        spans.exists(p => p.id == j.parent && p.parent == op.id))
      def sum(k: String) = jobs.map(_.attrs(k)).sum
      val firstJob = if (jobs.isEmpty) Double.NaN else jobs.map(_.startMs).min
      Map(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.tasks" -> sum("tasks"),
        "spark.executor_run_s" -> sum("executor_run_ms") / 1000,
        "spark.gc_s" -> sum("gc_ms") / 1000,
        "spark.shuffle_write_mb" -> sum("shuffle_write_bytes") / 1048576.0,
        "spark.spill_mb" -> sum("spill_bytes") / 1048576.0,
        "spark.first_job_delay_s" -> (firstJob - op.startMs) / 1000,
        "spark.max_task_s" -> (if (jobs.isEmpty) 0.0 else jobs.map(_.attrs("max_task_ms")).max / 1000),
        "spark.parallel_eff" -> sum("executor_run_ms") / (op.durMs * cores))
    }
    val sparkKeys = Seq("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.gc_s",
      "spark.shuffle_write_mb", "spark.spill_mb", "spark.first_job_delay_s",
      "spark.max_task_s", "spark.parallel_eff")
    val phases = spans.filter(_.kind == "phase")
    val lastIngest = tracedOps.lastOption.flatMap(_.ingest)
    Seq("source.manifest_s", "source.tidy_s", "source.tidy_tasks", "source.tidy_rows",
      "source.v2_scan_s", "source.v2_scan_tasks", "source.hdf5_tidy_s", "functions.band_stats_s",
      "functions.multihash_s", "sink.k1_encode_s", "sink.k1_out_mb",
      "sink.cog_encode_ms_p50", "sink.cog_encode_ms_p90", "sink.cog_out_mb",
      "sink.thumb_encode_ms_p50", "sink.stac_write_s", "sink.stac_read_s",
      "ops.get_or_create_s").map(k => k -> probes(k)) ++
    Seq(
      "pipeline.items_loaded" -> lastIngest.map(_.itemsLoaded.toDouble).getOrElse(Double.NaN),
      "pipeline.items_skipped" -> lastIngest.map(_.itemsSkipped.toDouble).getOrElse(Double.NaN),
      "pipeline.ingest_statements" -> tracedOps.lastOption.map(_.statements.toDouble).getOrElse(Double.NaN),
      "pipeline.files_written" -> Report.median(tracedOps.map(_.filesWritten.toDouble))) ++
    sparkKeys.map(k => k -> Report.median(perOp.map(_(k)))) ++
    Seq(
      "trace.overhead_s" -> (Report.median(tracedOps.map(_.preS)) -
        Report.median(untracedOps.map(_.preS))),
      "trace.preprocess_self_s" ->
        Report.median(phases.filter(_.name == "preprocess").map(self(_) / 1000)),
      "trace.ingest_self_s" ->
        Report.median(phases.filter(_.name == "ingest").map(self(_) / 1000)))
  }
}
