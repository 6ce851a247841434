package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellDomain
import graft.grid.{GridCatalog, GridSpec}
import graft.table.SnapshotTable

/** Seeded inputs. The program receives only what is generated here. */
object Inputs {

  // ------------------------------------------------------------ pages

  /** Page ids start at a seed-derived offset, so every seed geotags a
    * different point set while the table shape stays the same. */
  def pageOffset(seed: Long): Long = 1000000L + Math.floorMod(seed * 7919L, 100000L) * 1000L

  /** `nPages` pages over the `documents` table (doc = page id mod |docs|),
    * with the columns of `Pages.pagesScaled` minus the text and html bodies:
    * the measured job reads only `url`, so the bodies would only cost
    * generation time and disk. */
  def pages(spark: SparkSession, dataDir: String, nPages: Long, seed: Long,
            files: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val nDocs = docs.count()
    spark.range(0, nPages, 1, files).toDF("i")
      .withColumn("pid", col("i") + pageOffset(seed))
      .withColumn("doc_id", col("pid") % nDocs)
      .join(broadcast(docs), "doc_id")
      .select(
        concat(lit("https://host"), (col("pid") % 97).cast("string"),
          lit(".example.org/doc/"), col("pid").cast("string")).as("url"),
        to_timestamp(lit(1600000000L) + col("pid") * 137L).as("warc_ts"),
        col("lang"))
  }

  /** The committed page table for (seed, size), generated and committed on
    * first use and reused after. */
  def pageTable(spark: SparkSession, cacheDir: Path, dataDir: String,
                nPages: Long, seed: Long, files: Int): SnapshotTable = {
    val root = cacheDir.resolve(s"pages-n$nPages-s$seed")
    val done = root.resolve("COMPLETE")
    if (!Files.exists(done)) {
      Cache.evict(cacheDir, "pages-", keep = 3)
      Cache.deleteTree(root)
      new SnapshotTable(root.toString).commit(
        pages(spark, dataDir, nPages, seed, files), "create", "pages")
      Files.write(done, Array.emptyByteArray)
    }
    new SnapshotTable(root.toString)
  }

  // ---------------------------------------------------------- catalog

  /** Catalog grid: 64×64 cells of 125 units over the county union
    * [0, 8000)², so a weight fragment spans tens of cells. */
  val catalogGrid: GridSpec = GridCatalog.BENCH64
  /** Cell-index domain: larger than the grid, because weight features
    * reach past the counties. */
  val catalogDomain: CellDomain = CellDomain(-1024, -1024, 9216, 9216)
  val catalogRes = 5
  val countyUnion: Array[Double] = Array(0, 0, 8000, 0, 8000, 8000, 0, 8000)

  /** 4×4 counties tiling [0, 8000)², with the nine inner corners moved off
    * the 2000-lattice: every county is a non-rectangular quadrilateral, so
    * the county × weight clip takes the general polygon path. Fixed, not
    * seeded. */
  val catalogCounties: Seq[(String, Array[Array[Double]])] = {
    def v(i: Int, j: Int): (Double, Double) = {
      val inner = i > 0 && i < 4 && j > 0 && j < 4
      val dx = if (inner) ((i * 7 + j * 3) % 5 - 2) * 140.0 + 37 else 0.0
      val dy = if (inner) ((i * 3 + j * 5) % 5 - 2) * 140.0 - 23 else 0.0
      (i * 2000.0 + dx, j * 2000.0 + dy)
    }
    for { j <- 0 until 4; i <- 0 until 4 } yield {
      val ring = Seq(v(i, j), v(i + 1, j), v(i + 1, j + 1), v(i, j + 1))
        .flatMap { case (x, y) => Seq(x, y) }.toArray
      (f"47${j * 4 + i + 1}%03d", Array(ring))
    }
  }

  final case class Poly(id: Long, w: Int, rings: Array[Array[Double]])
  final case class Line(id: Long, w: Int, coords: Array[Double])

  /** Weight polygons centred in [xlo, xhi] × [-200, 8200], on a rotated
    * ellipse with semi-axes 250–500, in four kinds by `k % 4`:
    *   0: convex 7–14-gon with a pentagonal hole (wound clockwise) of radius
    *      0.2·(shorter semi-axis);
    *   1: non-convex star: 7–14 points, every second vertex pulled in to
    *      0.45 of the radius, so a star ∩ county can fall apart in pieces;
    *   2: multipart: two disjoint convex parts, both wound counter-
    *      clockwise, flattened into one ring list as the program's readers
    *      store a multipolygon (holes by winding);
    *   3: plain convex 7–14-gon.
    * Non-convex and multipart weights give multipart fragments. */
  def polygons(seed: Long, n: Int, xlo: Double, xhi: Double): Seq[Poly] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { k =>
      val cx = xlo + r.nextDouble() * (xhi - xlo)
      val cy = -200 + r.nextDouble() * 8400
      val (a, b) = (250 + r.nextDouble() * 250, 250 + r.nextDouble() * 250)
      val rot = r.nextDouble() * math.Pi
      val nv = 7 + r.nextInt(8)
      // jittered even spacing: gaps stay below 2·2π/7, so every edge keeps
      // more than 0.69·min(a, b) from the centre and the hole stays inside
      def ring(ox: Double, oy: Double, sa: Double, sb: Double, m: Int,
               radius: Int => Double): Array[Double] =
        Array.tabulate(m)(q => ((q + 0.8 * r.nextDouble()) * 2 * math.Pi / m, radius(q)))
          .flatMap { case (t, f) =>
            val (ex, ey) = (f * sa * math.cos(t), f * sb * math.sin(t))
            Array(ox + ex * math.cos(rot) - ey * math.sin(rot),
                  oy + ex * math.sin(rot) + ey * math.cos(rot))
          }
      val rings = (k % 4) match {
        case 0 =>
          val hr = math.min(a, b) * 0.2
          val hole = (0 until 5).reverse.flatMap { q =>
            val t = q * 2 * math.Pi / 5 + 0.3
            Seq(cx + hr * math.cos(t), cy + hr * math.sin(t))
          }.toArray
          Array(ring(cx, cy, a, b, nv, _ => 1.0), hole)
        case 1 =>
          Array(ring(cx, cy, a, b, 2 * nv, q => if (q % 2 == 0) 1.0 else 0.45))
        case 2 =>
          // part 1 within 0.6·max(a, b) of the centre, part 2 within
          // 0.4·max(a, b) of a point 1.1·max(a, b) + 60 away: disjoint
          val m = math.max(a, b)
          val t = r.nextDouble() * 2 * math.Pi
          val (px, py) = (cx + (1.1 * m + 60) * math.cos(t), cy + (1.1 * m + 60) * math.sin(t))
          Array(ring(cx, cy, 0.6 * a, 0.6 * b, nv, _ => 1.0),
                ring(px, py, 0.4 * a, 0.4 * b, 7, _ => 1.0))
        case _ =>
          Array(ring(cx, cy, a, b, nv, _ => 1.0))
      }
      Poly(k, 1 + r.nextInt(100), rings)
    }
  }

  /** Polylines of 3–6 slanted segments (200–600 units each) starting in
    * [0, 8000] × [ylo, yhi]. */
  def lines(seed: Long, n: Int, ylo: Double, yhi: Double): Seq[Line] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { k =>
      var x = r.nextDouble() * 8000
      var y = ylo + r.nextDouble() * (yhi - ylo)
      val segs = 3 + r.nextInt(4)
      val pts = scala.collection.mutable.ArrayBuffer(x, y)
      var heading = r.nextDouble() * 2 * math.Pi
      (0 until segs).foreach { _ =>
        heading += (r.nextDouble() - 0.5) * 1.2
        val len = 200 + r.nextDouble() * 400
        x += len * math.cos(heading); y += len * math.sin(heading)
        pts += x; pts += y
      }
      Line(k, 1 + r.nextInt(100), pts.toArray)
    }
  }

  /** The four weight layers of one catalog. The attribute-mode layers cover
    * only part of the domain, so the gapfill cascade falls through for some
    * counties. */
  final case class CatalogLayers(polyArea: Seq[Poly], polyAttr: Seq[Poly],
                                 lineLen: Seq[Line], lineAttr: Seq[Line]) {
    /** The same layers without the multipart weight polygons. */
    def singlepart: CatalogLayers = {
      def one(p: Poly) = p.rings.count(r => graft.geom.Geo.signedArea(r) > 0) == 1
      copy(polyArea = polyArea.filter(one), polyAttr = polyAttr.filter(one))
    }
  }

  def catalogLayers(seed: Long, nPolys: Int, nLines: Int): CatalogLayers =
    CatalogLayers(
      polyArea = polygons(seed * 4 + 1, nPolys, -200, 8200),
      polyAttr = polygons(seed * 4 + 2, nPolys, -200, 3900),
      lineLen = lines(seed * 4 + 3, nLines, -200, 8200),
      lineAttr = lines(seed * 4 + 4, nLines, -200, 5900))

  def polyDf(spark: SparkSession, ps: Seq[Poly]): DataFrame = {
    import spark.implicits._
    ps.map(p => (p.id, p.w, p.rings.map(_.toSeq).toSeq)).toDF("id", "w", "geom")
  }
  def lineDf(spark: SparkSession, ls: Seq[Line]): DataFrame = {
    import spark.implicits._
    ls.map(l => (l.id, l.w, l.coords.toSeq)).toDF("id", "w", "line")
  }
  def countyDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    catalogCounties.map { case (f, g) => (f, g.map(_.toSeq).toSeq) }.toDF("fips", "geom")
  }
}

/** The per-seed input cache: one directory per generated input, inside the
  * benchmark's own (ignored) cache directory. */
object Cache {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }
  /** Keep the `keep - 1` most recently written entries with this prefix. */
  def evict(dir: Path, prefix: String, keep: Int): Unit = if (Files.isDirectory(dir)) {
    val s = Files.list(dir)
    val entries = try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(prefix)) finally s.close()
    entries.sortBy(p => -Files.getLastModifiedTime(p).toMillis)
      .drop(keep - 1).foreach(deleteTree)
  }
}
