package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.cli.SrgTool
import graft.fixtures.{Pages, TpchGeo}
import graft.grid.GridCatalog
import graft.io.Smoke
import graft.operators.{PostOps, SpatialJoin, Surrogate}
import graft.spark.GeoFunctions._
import graft.spark.PersistTracker
import graft.table.SnapshotTable

/** What every workload shares: the session, the probes and the directories. */
final class Ctx(val spark: SparkSession, val listener: WorkListener,
                val tracer: Tracer, val traced: Boolean,
                val seed: Long, val tiny: Boolean, val pages: Option[Long],
                val dataDir: String,
                val work: Path, val cache: Path) {
  private var outSeq = 0
  def nextOut(tag: String): String = {
    outSeq += 1
    work.resolve("ops").resolve(f"$outSeq%04d-$tag").toString
  }
  /** Untimed isolation before every operation: no cached intermediate of
    * one operation may speed up the next, and no operation collects the
    * garbage of the one before (leaves run in a seed-shuffled order). */
  def isolate(): Unit = {
    PersistTracker.drain()
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }
}

/** One operation of a workload's closed loop; `run` writes its output under
  * the path it is given. */
final case class Op(name: String, family: String, run: String => Unit)

final case class OpRecord(name: String, family: String, round: Int, secs: Double,
                          error: Option[String], output: String, work: SparkWork) {
  def ok: Boolean = error.isEmpty
}

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Input generation: excluded from set-up time. */
  def prepare(): Unit
  /** One round: the same operations in every round of every run. */
  def round: Seq[Op]
  /** Untimed rounds before the measured ones; part of set-up time. */
  def warmupRounds: Int
  /** Extra inputs for the output checks, as JSON fields. */
  def checkInfo: Seq[(String, String)]
  /** Untimed work after an operation, e.g. dumping what it returned. */
  def afterOp(rec: OpRecord): Unit = ()
  /** Per-layer figures from extra traced calls and the traced operations
    * `recs`; a workload that needs operations and gets no `recs` runs them
    * itself. */
  def layers(recs: Seq[OpRecord]): Seq[(String, Double)]

  protected def spark: SparkSession = ctx.spark
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

// ------------------------------------------------------------------ pages

/** The flagship page surrogate: committed page table → geotag → point
  * surrogate over the 64×64 bench grid → distributed SMOKE sink. */
final class PagesSrg(c: Ctx) extends Workload(c) {
  val name = "pages_srg"
  val nPages: Long = ctx.pages.getOrElse(if (ctx.tiny) 50000L else 500000L)
  /** The first page job runs cold; the JIT is still settling after it. */
  val warmupRounds = 3
  private val files = 16
  private val grid = GridCatalog.BENCH64
  private var table: SnapshotTable = _

  def prepare(): Unit =
    table = Inputs.pageTable(spark, ctx.cache, ctx.dataDir, nPages, ctx.seed, files)

  private def counties = TpchGeo.counties(spark)
  private def surrogate(pages: DataFrame): DataFrame =
    Surrogate.pointSurrogate(Pages.geotag(pages), counties, grid,
      TpchGeo.domain, TpchGeo.zres, srgCode = 300, ordered = false)

  def round: Seq[Op] = Seq(Op("pages_srg", "pages", out =>
    Smoke.writeParts(surrogate(table.read(spark)), grid, Smoke.ProjInfo(), out)))

  def checkInfo: Seq[(String, String)] = Seq(
    "n_pages" -> nPages.toString,
    "pages_files" -> Json.arr(table.current.get.files.map(f => Json.str(f.path))))

  /** Scan, join and surrogate are prefixes of the job, each timed three
    * times (median) and differenced; the sink is timed alone over the
    * cached surrogate. */
  def layers(recs: Seq[OpRecord]): Seq[(String, Double)] = {
    def median3(name: String)(body: => Unit): Double =
      Stats.median(Seq.fill(3) { ctx.isolate(); ctx.timed(name)(body) })
    val scan = median3("table.scan")(ctx.noop(table.read(spark).select("url")))
    // the join up to its PIP-filtered rows, counted, as the surrogate
    // consumes them (an aggregate, not full-width rows)
    val join = median3("spatial_join")(SpatialJoin.pointInPoly(
      Pages.geotag(table.read(spark)), counties, TpchGeo.domain, TpchGeo.zres)
      .agg(count(lit(1))).collect())
    val srg = median3("surrogate.point")(ctx.noop(surrogate(table.read(spark))))
    ctx.isolate()
    val cached = surrogate(table.read(spark)).persist()
    cached.count()
    val parts = ctx.timed("smoke.parts")(Smoke.writeParts(cached, grid, Smoke.ProjInfo(),
      ctx.work.resolve("smoke-parts").toString))
    cached.unpersist()
    ctx.isolate()
    // the cell equi-join of pointInPoly, rebuilt from the public columns:
    // rows before the exact PIP test, and the rows it keeps
    val pts = Pages.geotag(table.read(spark))
      .withColumn("__cell", cellEncode(col("x"), col("y"), TpchGeo.domain, TpchGeo.zres))
    val polys = counties.withColumn("__cell",
      explode(polyCoverCells(col("geom"), TpchGeo.domain, TpchGeo.zres)))
    val row = ctx.tracer.span("join.counts")(pts.join(broadcast(polys), "__cell")
      .agg(count(lit(1)), sum(when(containsPoint(col("x"), col("y"), col("geom")), 1)
        .otherwise(0))).head())
    val commitRoot = ctx.work.resolve("commit-copy")
    val commit = ctx.timed("table.commit")(
      new SnapshotTable(commitRoot.toString).commit(table.read(spark), "create", "pages"))
    Cache.deleteTree(commitRoot)
    Seq("table.scan_s" -> scan, "spatial_join.s" -> (join - scan),
      "surrogate.point_s" -> (srg - join), "smoke.parts_s" -> parts,
      "join.candidates" -> row.getLong(0).toDouble,
      "join.survivors" -> row.getLong(1).toDouble,
      "table.commit_s" -> commit)
  }

  /** A sample of the geotagged points the operation reads, for the kernels. */
  def samplePoints(n: Int): Array[(Double, Double)] =
    Pages.geotag(table.read(spark)).select("x", "y").limit(n).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
}

// ---------------------------------------------------------------- catalog

/** SurrogateTool catalogs: two polygon specs, two line specs, a merge, a
  * gapfill cascade, normalize, QA reports and one SMOKE file per code. A
  * round runs two: `srg_catalog` over the four seeded layers, and
  * `srg_catalog_singlepart` over the same layers without their multipart
  * weight polygons. The first fails on today's program (the county clip
  * cannot take a multipart weight); the second keeps the rest of the
  * catalog checked, non-convex weights and holes included. */
final class SrgCatalog(c: Ctx) extends Workload(c) {
  val name = "srg_catalog"
  private val nPolys = if (ctx.tiny) 40 else 300
  private val nLines = if (ctx.tiny) 40 else 300
  val warmupRounds = 1
  private val grid = Inputs.catalogGrid
  private val domain = Inputs.catalogDomain
  private val res = Inputs.catalogRes
  /** The seeded layers of each operation, by operation name. */
  var layersIn: Map[String, Inputs.CatalogLayers] = Map.empty
  private var dfs: Map[String, Map[Int, DataFrame]] = Map.empty
  private var counties: DataFrame = _
  private var last: Option[SrgTool.Result] = None
  private var lastQa = (0L, 0L)

  def prepare(): Unit = {
    val full = Inputs.catalogLayers(ctx.seed, nPolys, nLines)
    layersIn = Map("srg_catalog" -> full, "srg_catalog_singlepart" -> full.singlepart)
    counties = Inputs.countyDf(spark)
    dfs = layersIn.map { case (op, l) => op -> Map(
      100 -> Inputs.polyDf(spark, l.polyArea),
      110 -> Inputs.polyDf(spark, l.polyAttr),
      200 -> Inputs.lineDf(spark, l.lineLen),
      210 -> Inputs.lineDf(spark, l.lineAttr)) }
  }

  private def specs(d: Map[Int, DataFrame]) = Seq(
    SrgTool.SrgSpec(100, "poly_area", SrgTool.PolyW, d(100)),
    SrgTool.SrgSpec(110, "poly_attr", SrgTool.PolyW, d(110), Some("w")),
    SrgTool.SrgSpec(200, "line_length", SrgTool.LineW, d(200)),
    SrgTool.SrgSpec(210, "line_attr", SrgTool.LineW, d(210), Some("w")))
  private val merges = Seq(SrgTool.MergeSpec(300, "merge_poly_line", 100, 0.5, 200, 0.5))
  private val gapfills = Seq(SrgTool.GapfillSpec(400, "gapfill", Seq(110, 210, 100)))

  def round: Seq[Op] = Seq("srg_catalog", "srg_catalog_singlepart").map(op =>
    Op(op, "catalog", out => {
      val r = SrgTool.run(spark, counties, grid, domain, res, specs(dfs(op)), merges, gapfills,
        outDir = Some(out))
      lastQa = (r.qaSummary.collect().length.toLong, r.qaNot1.collect().length.toLong)
      last = Some(r)
    }))

  /** The QA report sizes for the checker; in the self-check also the tables
    * the catalog returned, collected after the timed call, so the checker can
    * compare each SMOKE file with them. Collecting recomputes the whole
    * catalog (its intermediates are released by then), hence only there. */
  override def afterOp(rec: OpRecord): Unit = {
    if (rec.ok) {
      Files.write(Paths.get(rec.output, "qa.json"),
        s"""{"qa_summary_rows":${lastQa._1},"qa_not1_rows":${lastQa._2}}""".getBytes("UTF-8"))
      if (ctx.tiny) last.foreach(dumpReturned(rec))
    }
    last = None
  }

  private def dumpReturned(rec: OpRecord)(r: SrgTool.Result): Unit = {
    val lines = r.srg.toSeq.sortBy(_._1).flatMap { case (code, df) =>
      def opt(c: String) = if (df.columns.contains(c)) col(c).cast("double") else lit(null).cast("double")
      df.select(col("srg_code"), col("fips"), col("col"), col("row"), col("frac"),
          opt("numer"), opt("denom"), opt("qasum")).collect().map { row =>
        (0 until 8).map(i => if (row.isNullAt(i)) "" else row.get(i).toString).mkString(",")
      }
    }
    Files.write(Paths.get(rec.output, "returned.csv"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** JTS reference surrogates of each operation's layers for a seeded
    * sample of three counties. */
  def checkInfo: Seq[(String, String)] = {
    val r = new scala.util.Random(ctx.seed * 31 + 7)
    val sample = r.shuffle(Inputs.catalogCounties.map(_._1)).take(if (ctx.tiny) 2 else 3).sorted
    def polys(ps: Seq[Inputs.Poly]) = ps.map(p => (Reference.polygon(p.rings), p.w))
    def lns(ls: Seq[Inputs.Line]) = ls.map(l => (Reference.lineString(l.coords), l.w))
    def refs(l: Inputs.CatalogLayers) = Json.arr(Seq(
      100 -> Reference.compute(polys(l.polyArea), weighted = false, sample, isLine = false),
      110 -> Reference.compute(polys(l.polyAttr), weighted = true, sample, isLine = false),
      200 -> Reference.compute(lns(l.lineLen), weighted = false, sample, isLine = true),
      210 -> Reference.compute(lns(l.lineAttr), weighted = true, sample, isLine = true))
      .map { case (code, ref) => Reference.toJson(code, ref) })
    Seq(
      "sample" -> Json.arr(sample.map(Json.str)),
      "counties" -> Json.arr(Inputs.catalogCounties.map(c => Json.str(c._1))),
      "generated" -> Json.arr(Seq("100", "110", "200", "210")),
      "merge" -> """{"code":300,"a":100,"fa":0.5,"b":200,"fb":0.5}""",
      "gapfill" -> """{"code":400,"cascade":[110,210,100]}""",
      "reference" -> Json.obj(layersIn.toSeq.sortBy(_._1).map { case (op, l) => op -> refs(l) }))
  }

  /** Layer passes over the single-part layers: the county clip throws on
    * the multipart ones. */
  def layers(recs: Seq[OpRecord]): Seq[(String, Double)] = {
    val countiesB = counties.withColumnRenamed("geom", "bgeom")
    val dfs = this.dfs("srg_catalog_singlepart")
    ctx.isolate()
    var polyRows = 0L
    val polyFrags = Seq(100, 110).map(k =>
      SpatialJoin.polyPolyFragments(dfs(k), countiesB, domain, res).persist())
    val fragsPolyS = ctx.timed("frags.poly")(polyFrags.foreach(f => polyRows += f.count()))
    var lineRows = 0L
    val lineFrags = Seq(200, 210).map(k =>
      SpatialJoin.linePolyFragments(dfs(k), counties, domain, res).persist())
    val fragsLineS = ctx.timed("frags.line")(lineFrags.foreach(f => lineRows += f.count()))
    // fragment × cell clips, counted by whether they keep any measure
    def clipCounts(cells: DataFrame, measure: String) =
      cells.agg(count(lit(1)), sum(when(col(measure) > 0, 1).otherwise(0))).head()
    val pc = ctx.tracer.span("cellclip.poly")(polyFrags.map { f =>
      clipCounts(f.select(col("frag_geom"),
          explode(polyGridCoverCells(col("frag_geom"), grid)).as("cid"))
        .withColumn("a", polyCellClipArea(col("frag_geom"), col("cid"), grid)), "a")
    })
    val lc = ctx.tracer.span("cellclip.line")(lineFrags.map { f =>
      clipCounts(f.select(explode(col("frag_line")).as("piece"))
          .withColumn("cid", explode(lineGridCoverCells(col("piece"), grid)))
          .withColumn("l", lineCellClipLength(col("piece"), col("cid"), grid)), "l")
    })
    (polyFrags ++ lineFrags).foreach(_.unpersist())
    ctx.isolate()
    val g100 = Surrogate.polySurrogate(dfs(100), counties, grid, domain, res, 100)
    val g110 = Surrogate.polySurrogate(dfs(110), counties, grid, domain, res, 110, Some("w"))
    val g200 = Surrogate.lineSurrogate(dfs(200), counties, grid, domain, res, 200)
    val g210 = Surrogate.lineSurrogate(dfs(210), counties, grid, domain, res, 210, Some("w"))
    val srgPolyS = ctx.timed("surrogate.poly")(Seq(g100, g110).foreach(ctx.noop))
    val srgLineS = ctx.timed("surrogate.line")(Seq(g200, g210).foreach(ctx.noop))
    // post-passes over the generated tables, held in memory so each pass is
    // timed without regenerating its inputs
    val gen = Seq(g100, g110, g200, g210).map(_.persist())
    gen.foreach(_.count())
    val Seq(t100, t110, t200, t210) = gen
    val merged = PostOps.merge(t100, t200, 0.5, 0.5, 300).persist()
    val mergeS = ctx.timed("postops.merge")(merged.count())
    val filled = PostOps.gapfill(Seq(t110, t210, t100), 400).persist()
    val gapfillS = ctx.timed("postops.gapfill")(filled.count())
    val all = gen ++ Seq(merged, filled)
    val normalized = all.map(PostOps.normalize(_, 1e-6).persist())
    val normalizeS = ctx.timed("postops.normalize")(normalized.foreach(_.count()))
    val union = normalized.map(_.select("srg_code", "fips", "col", "row", "frac"))
      .reduce(_ unionByName _)
    val qaS = ctx.timed("postops.qa")({
      PostOps.qaSummary(union).collect(); PostOps.qaNot1(union).collect() })
    val smokeDir = ctx.work.resolve("smoke-layer")
    Files.createDirectories(smokeDir)
    val smokeS = ctx.timed("smoke.write")(normalized.zip(Seq(100, 110, 200, 210, 300, 400))
      .foreach { case (df, code) =>
        val qa = df.columns.contains("numer")
        val full = if (qa) df else df.withColumn("numer", lit(0.0))
          .withColumn("denom", lit(1.0)).withColumn("qasum", lit(0.0))
        Smoke.write(full, grid, Smoke.ProjInfo(), smokeDir.resolve(s"srg_$code.txt").toString,
          withQa = qa)
      })
    (all ++ normalized).foreach(_.unpersist())
    val smokeBytes = {
      val s = Files.list(smokeDir)
      try s.toArray.toSeq.map(p => Files.size(p.asInstanceOf[Path]).toDouble).sum
      finally s.close()
    }
    Seq("frags.poly_rows" -> polyRows.toDouble, "frags.poly_s" -> fragsPolyS,
      "frags.line_rows" -> lineRows.toDouble, "frags.line_s" -> fragsLineS,
      "cellclip.poly_cells" -> pc.map(_.getLong(0)).sum.toDouble,
      "cellclip.poly_nonzero" -> pc.map(_.getLong(1)).sum.toDouble,
      "cellclip.line_cells" -> lc.map(_.getLong(0)).sum.toDouble,
      "cellclip.line_nonzero" -> lc.map(_.getLong(1)).sum.toDouble,
      "surrogate.poly_s" -> srgPolyS, "surrogate.line_s" -> srgLineS,
      "postops.merge_s" -> mergeS, "postops.gapfill_s" -> gapfillS,
      "postops.normalize_s" -> normalizeS, "postops.qa_s" -> qaS,
      "smoke.write_s" -> smokeS, "smoke.bytes" -> smokeBytes)
  }
}

// ----------------------------------------------------------------- leaves

/** Registered query leaves, each built by its `SparkEntry.queries`
  * function, planned and written to parquet, then checked against its
  * `SparkEntry.oracleSql` text in DuckDB. */
final class QueryLeaves(c: Ctx) extends Workload(c) {
  val name = "query_leaves"
  import QueryLeaves._
  private val queries = SparkEntry.queries
  private val chosen = if (ctx.tiny) Tiny else Leaves
  /** The seed shuffles the order; every round runs the same leaves. */
  private val order = new scala.util.Random(ctx.seed).shuffle(chosen)
  /** One untimed pass over the leaves. */
  val warmupRounds = 1

  def prepare(): Unit = chosen.foreach { case (n, _) =>
    require(queries.contains(n), s"no registered leaf named $n")
  }

  def round: Seq[Op] = order.map { case (leaf, family) =>
    Op(leaf, family, out => {
      val df = ctx.tracer.span("leaf.build")(queries(leaf)(spark, ctx.dataDir))
      if (ctx.traced) ctx.tracer.span("leaf.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("leaf.exec")(df.write.mode("overwrite").parquet(out))
    })
  }

  def checkInfo: Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    Seq("data_dir" -> Json.str(ctx.dataDir),
      "oracle" -> Json.obj(chosen.map { case (n, _) => n -> Json.str(oracle(n)) }))
  }

  def layers(recs0: Seq[OpRecord]): Seq[(String, Double)] = {
    val recs = if (recs0.nonEmpty) recs0 else round.map(op => Main.runOp(ctx, this, op, 0))
    val spans = ctx.tracer.all
    val byId = spans.map(s => s.id -> s).toMap
    // the leaf span that encloses each build / plan / exec span
    def leafOf(s: Span): String = {
      var p = s.parent
      while (p >= 0 && !chosen.exists(_._1 == byId(p).name)) p = byId(p).parent
      if (p < 0) "" else byId(p).op
    }
    val okOps = recs.filter(_.ok)
    val opIds = okOps.map(r => s"${r.name}#${r.round}").toSet
    val rounds = okOps.map(_.round).distinct
    def perRound(f: OpRecord => Double, recsOf: Seq[OpRecord]): Double =
      Stats.median(rounds.map(rd => recsOf.filter(_.round == rd).map(f).sum))
    def spanPerRound(name: String): Double = {
      val ss = spans.filter(_.name == name).filter(s => opIds(leafOf(s)))
      Stats.median(rounds.map(rd => ss.filter(s => leafOf(s).endsWith(s"#$rd")).map(_.secs).sum))
    }
    Seq("leaf.build_s" -> spanPerRound("leaf.build"),
      "leaf.plan_s" -> spanPerRound("leaf.plan"),
      "leaf.exec_s" -> spanPerRound("leaf.exec")) ++
    chosen.map(_._2).distinct.flatMap { f =>
      val fr = okOps.filter(_.family == f)
      Seq(s"family.$f.wall_s" -> perRound(_.secs, fr),
        s"family.$f.jobs" -> perRound(_.work.jobs.toDouble, fr))
    }
  }
}

object QueryLeaves {
  /** One leaf per family except two for alloc, none of which writes scratch
    * files outside the checkout; a round takes about 9 s warm at local[4],
    * so a run holds two measured rounds. The README says why not all 38. */
  val Leaves: Seq[(String, String)] = Seq(
    "q03_srg_point" -> "srg",
    "q02_geotag_cells" -> "alloc", "q08_overlay" -> "alloc",
    "q29_qa_nodata" -> "post",
    "q107_hits" -> "fixpoint",
    "q14_ngram_jaccard" -> "simjoin")
  val Tiny: Seq[(String, String)] = Seq("q03_srg_point" -> "srg", "q29_qa_nodata" -> "post")
}
