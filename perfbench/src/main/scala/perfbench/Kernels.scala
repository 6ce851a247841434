package perfbench

import graft.cells.CellIndex
import graft.fixtures.TpchGeo
import graft.geom.{Clip, Geo}

/** Single-threaded ns/call of the geometry and cell kernels, on samples of
  * the workloads' own inputs: page points against the page counties, and
  * catalog weights against the catalog counties and grid cells. Each kernel
  * runs until the JIT has settled, then is timed over whole passes of its
  * sample. */
object Kernels {
  @volatile private var sink = 0.0

  private def nsPerCall(calls: Int)(pass: => Double): Double = {
    val warmEnd = System.nanoTime() + 400000000L
    while (System.nanoTime() < warmEnd) sink += pass
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 500000000L) { sink += pass; passes += 1 }
    (System.nanoTime() - t0).toDouble / (passes.toLong * calls)
  }

  def run(points: Array[(Double, Double)], pageCounties: Array[Array[Array[Double]]],
          layers: Inputs.CatalogLayers): Seq[(String, Double)] = {
    val grid = Inputs.catalogGrid
    val counties = Inputs.catalogCounties.map(_._2).toArray
    val polys = (layers.polyArea ++ layers.polyAttr).map(_.rings).toArray
    // weight × county pairs whose boxes meet: the operands of the fragment clip
    val pairs = for {
      p <- polys; c <- counties
      if Geo.bboxOfPolygon(p).intersects(Geo.bboxOfPolygon(c))
    } yield (p, c)
    val frags = pairs.map { case (p, c) => Clip.polyPolyClip(p, c) }.filter(_.nonEmpty)
    val fragCells = frags.flatMap(f => grid.coverCells(Geo.bboxOfPolygon(f)).map(id => (f, grid.cellBBox(id))))
    val pieces = (layers.lineLen ++ layers.lineAttr).flatMap(l =>
      counties.toSeq.flatMap(c => Clip.linePolyClipSegments(l.coords, c).toSeq))
    val pieceCells = pieces.flatMap(pc => grid.coverCells(Geo.bboxOfRing(pc)).map(id => (pc, grid.cellBBox(id))))
    val d = TpchGeo.domain
    Seq(
      "kernel.pip_ns" -> nsPerCall(points.length * pageCounties.length) {
        var s = 0
        for ((x, y) <- points; c <- pageCounties) s += Geo.pointInPolygon(x, y, c)
        s.toDouble
      },
      "kernel.cell_encode_ns" -> nsPerCall(points.length) {
        var s = 0L
        for ((x, y) <- points) s ^= CellIndex.encode(x, y, d, TpchGeo.zres)
        s.toDouble
      },
      "kernel.poly_rect_clip_ns" -> nsPerCall(fragCells.length) {
        var s = 0.0
        for ((f, b) <- fragCells) s += Clip.polygonRectClipArea(f, b)
        s
      },
      "kernel.line_rect_clip_ns" -> nsPerCall(pieceCells.length) {
        var s = 0.0
        for ((pc, b) <- pieceCells) s += Clip.lineRectClipLength(pc, b)
        s
      },
      "kernel.poly_poly_clip_ns" -> nsPerCall(pairs.length) {
        var s = 0
        for ((p, c) <- pairs) s += Clip.polyPolyClip(p, c).length
        s.toDouble
      },
      "kernel.grid_cover_ns" -> nsPerCall(frags.length) {
        var s = 0
        for (f <- frags) s += grid.coverCells(Geo.bboxOfPolygon(f)).length
        s.toDouble
      })
  }
}
