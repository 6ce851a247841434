package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: generates a workload's seeded inputs, warms it
  * up, runs whole rounds of its operations for the measured seconds, and
  * writes every operation's time, Spark work and output location to
  * `<work>/result.json` for `run.py` to check and summarise. With `--trace 1`
  * it also takes the per-layer figures of all three workloads and the kernel
  * timings, and writes the spans to `<work>/spans.jsonl`.
  *
  *   Main --workload pages_srg|srg_catalog|query_leaves|all --seed N
  *        --seconds S --trace 0|1 --data DIR --work DIR --cache DIR [--tiny 1]
  *        [--pages N]
  *
  * Spark runs at local[4], as do the input generators.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, cache: Path, tiny: Boolean,
                        pages: Option[Long])
  private val Cpus = 4

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("pages_srg", "srg_catalog", "query_leaves", "all")(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), Paths.get(need("work")), Paths.get(need("cache")),
      m.get("tiny").contains("1"), m.get("pages").map(_.toLong))
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work.resolve("ops"))
    Files.createDirectories(a.cache)
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    GcProbe.install()
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(spark, listener, tracer, a.trace, a.seed, a.tiny, a.pages, a.data,
      a.work, a.cache)
    val all = Map[String, () => Workload](
      "pages_srg" -> (() => new PagesSrg(ctx)),
      "srg_catalog" -> (() => new SrgCatalog(ctx)),
      "query_leaves" -> (() => new QueryLeaves(ctx)))
    val names = if (a.workload == "all") Seq("pages_srg", "srg_catalog", "query_leaves")
                else Seq(a.workload)
    try {
      var startMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val runs = names.map { n =>
        val w = all(n)()
        val r = measure(ctx, w, a.seconds, startMs)
        startMs = System.currentTimeMillis()
        r
      }
      val layers =
        if (!a.trace) Nil
        else traceLayers(ctx, runs.head, names.head, all) ++ sparkLayers(runs.head)
      if (a.trace) tracer.writeJsonl(a.work.resolve("spans.jsonl"))
      val json = Json.obj(Seq(
        "runs" -> Json.arr(runs.map(_.json)),
        "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
      Files.write(a.work.resolve("result.json"), json.getBytes("UTF-8"))
    } finally {
      graft.spark.PersistTracker.drain()
      spark.stop()
    }
  }

  final case class Run(w: Workload, setupS: Double, genS: Double, recs: Seq[OpRecord],
                       oldGenPeakMb: Double, storagePeakMb: Double) {
    def json: String = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "setup_s" -> Json.num(setupS),
      "gen_s" -> Json.num(genS),
      "old_gen_peak_mb" -> Json.num(oldGenPeakMb),
      "storage_peak_mb" -> Json.num(storagePeakMb),
      "ops" -> Json.arr(recs.map(r => Json.obj(Seq(
        "name" -> Json.str(r.name), "family" -> Json.str(r.family),
        "round" -> r.round.toString, "secs" -> Json.num(r.secs),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "output" -> Json.str(r.output),
        "jobs" -> r.work.jobs.toString)))),
      "check" -> Json.obj(w.checkInfo)))
  }

  /** Runs one operation; a throw is recorded as its failure, never as a
    * time. */
  def runOp(ctx: Ctx, w: Workload, op: Op, round: Int): OpRecord = {
    ctx.isolate()
    val out = ctx.nextOut(op.name)
    val w0 = ctx.listener.snapshot(ctx.spark.sparkContext)
    val t0 = System.nanoTime()
    val err =
      try { ctx.tracer.inOp(s"${op.name}#$round")(ctx.tracer.span(op.name)(op.run(out))); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val work = ctx.listener.snapshot(ctx.spark.sparkContext) - w0
    log(f"${w.name} round $round ${op.name} " +
      err.map("FAIL: " + _).getOrElse(f"ok $secs%.3f s"))
    val rec = OpRecord(op.name, op.family, round, secs, err, out, work)
    w.afterOp(rec)
    rec
  }

  /** Inputs, the workload's fixed number of untimed warm-up rounds, then
    * whole rounds until the measured seconds are used up, and at least two. Set-up time runs
    * from `startMs` (the JVM start for the first workload) to the end of the
    * warm-up, without the input generation. */
  def measure(ctx: Ctx, w: Workload, seconds: Double, startMs: Long): Run = {
    val g0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - g0) / 1e9
    // tiny inputs only exercise the checks: no warm-up
    val warmups = if (ctx.tiny) 0 else w.warmupRounds
    (0 until warmups).foreach(_ => w.round.foreach(op => runOp(ctx, w, op, -1)))
    val setupS = (System.currentTimeMillis() - startMs) / 1e3 - genS
    log(f"${w.name} set-up ${setupS}%.3f s (inputs ${genS}%.3f s)")
    val sc = ctx.spark.sparkContext
    GcProbe.resetOldPeak()
    ctx.listener.resetStoragePeak(sc)
    val recs = ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    var round = 0
    // at least two rounds, so every operation's median has two samples;
    // tiny inputs only exercise the checks: one
    val minRounds = if (ctx.tiny) 1 else 2
    while (round < minRounds || System.nanoTime() - t0 < seconds * 1e9) {
      w.round.foreach(op => recs += runOp(ctx, w, op, round))
      round += 1
    }
    Run(w, setupS, genS, recs.toSeq, GcProbe.oldPeakBytes / 1048576.0,
      ctx.listener.storagePeakBytes(sc) / 1048576.0)
  }

  /** Per-operation Spark work of the named workload's measured operations,
    * and the peaks over its measured window. */
  def sparkLayers(run: Run): Seq[(String, Double)] = {
    val ok = run.recs.filter(_.ok).map(_.work)
    def med(f: SparkWork => Double) = Stats.median(ok.map(f))
    Seq("spark.task_cpu_s" -> med(_.taskCpuNs / 1e9),
      "spark.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1048576.0),
      "spark.gc_s" -> med(_.taskGcMs / 1e3),
      "spark.jobs" -> med(_.jobs.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble),
      "spark.spill_mb" -> med(_.spillBytes / 1048576.0),
      "spark.storage_peak_mb" -> run.storagePeakMb,
      "gc.old_gen_peak_mb" -> run.oldGenPeakMb)
  }

  /** Layer figures of all three workloads: the named one from its measured
    * operations; the other two prepare their inputs and take their layer
    * passes cold, with any operations those need (no warm-up), so the
    * traced run stays within its time limit. */
  def traceLayers(ctx: Ctx, named: Run, name: String,
                  all: Map[String, () => Workload]): Seq[(String, Double)] = {
    val ws = Seq("pages_srg", "srg_catalog", "query_leaves").map { n =>
      if (n == name) (named.w, named.recs)
      else {
        val w = all(n)()
        w.prepare()
        (w, Nil)
      }
    }
    val layerFigures = ws.flatMap { case (w, recs) =>
      ctx.tracer.span(s"layers.${w.name}")(w.layers(recs)) }
    val pages = ws.collectFirst { case (p: PagesSrg, _) => p }.get
    val catalog = ws.collectFirst { case (c: SrgCatalog, _) => c }.get
    val pageCounties = graft.fixtures.TpchGeo.counties(ctx.spark).select("geom").collect()
      .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0).map(_.toArray).toArray)
    val kernels = ctx.tracer.span("kernels")(
      Kernels.run(pages.samplePoints(20000), pageCounties, catalog.layersIn("srg_catalog_singlepart")))
    layerFigures ++ kernels
  }
}
