package perfbench

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing}

/** Reference surrogates for a sample of counties, computed with JTS overlay
  * directly from the generated layers — none of the program's clip, join or
  * surrogate code is involved. Per code: each county's denominator, each
  * (county, cell) numerator, and the weight inside the county union. */
object Reference {
  private val gf = new GeometryFactory()

  private def ring(a: Array[Double]): LinearRing = {
    val n = a.length / 2
    gf.createLinearRing((0 to n).map(i => new Coordinate(a(2 * (i % n)), a(2 * (i % n) + 1))).toArray)
  }
  /** A ring list as the program stores it: each counter-clockwise ring
    * starts a part, each clockwise ring is a hole of the part before it. */
  def polygon(rings: Array[Array[Double]]): Geometry = {
    val parts = rings.foldLeft(Vector.empty[(Array[Double], Vector[Array[Double]])]) {
      case (ps, r) if graft.geom.Geo.signedArea(r) > 0 || ps.isEmpty => ps :+ (r -> Vector.empty)
      case (ps, r) => ps.init :+ (ps.last._1 -> (ps.last._2 :+ r))
    }.map { case (shell, holes) => gf.createPolygon(ring(shell), holes.map(ring).toArray) }
    if (parts.length == 1) parts.head else gf.createMultiPolygon(parts.toArray)
  }
  def lineString(c: Array[Double]): Geometry =
    gf.createLineString((0 until c.length / 2).map(i => new Coordinate(c(2 * i), c(2 * i + 1))).toArray)

  final case class CodeRef(denom: Map[String, Double],
                           cells: Map[(String, Int, Int), Double],
                           insideTotal: Double)

  /** `measure` is area for polygons and length for lines; `weighted` picks
    * attribute mode (w·measure(piece)/measure(feature)) over measure mode. */
  def compute(features: Seq[(Geometry, Int)], weighted: Boolean,
              sample: Seq[String], isLine: Boolean): CodeRef = {
    val grid = Inputs.catalogGrid
    def measure(g: Geometry): Double = if (isLine) g.getLength else g.getArea
    def contrib(piece: Geometry, f: Geometry, w: Int): Double =
      if (weighted) w * (measure(piece) / measure(f)) else measure(piece)
    val union = polygon(Array(Inputs.countyUnion))
    val insideTotal = features.map { case (f, w) => contrib(f.intersection(union), f, w) }.sum
    val counties = Inputs.catalogCounties.toMap
    val denom = scala.collection.mutable.Map.empty[String, Double]
    val cells = scala.collection.mutable.Map.empty[(String, Int, Int), Double]
    for (fips <- sample) {
      val c = polygon(counties(fips))
      var d = 0.0
      for ((f, w) <- features if f.getEnvelopeInternal.intersects(c.getEnvelopeInternal)) {
        val piece = f.intersection(c)
        if (!piece.isEmpty) {
          d += contrib(piece, f, w)
          val e = piece.getEnvelopeInternal
          val b = graft.geom.Geo.BBox(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
          for (id <- grid.coverCells(b)) {
            val cb = grid.cellBBox(id)
            val cellGeom = polygon(Array(Array(cb.xmin, cb.ymin, cb.xmax, cb.ymin,
              cb.xmax, cb.ymax, cb.xmin, cb.ymax)))
            val v = contrib(piece.intersection(cellGeom), f, w)
            if (v != 0.0) {
              val k = (fips, grid.colOfCell(id), grid.rowOfCell(id))
              cells(k) = cells.getOrElse(k, 0.0) + v
            }
          }
        }
      }
      denom(fips) = d
    }
    CodeRef(denom.toMap, cells.toMap, insideTotal)
  }

  def toJson(code: Int, r: CodeRef): String = Json.obj(Seq(
    "code" -> code.toString,
    "inside_total" -> Json.num(r.insideTotal),
    "denom" -> Json.obj(r.denom.toSeq.sortBy(_._1).map { case (f, v) => f -> Json.num(v) }),
    "cells" -> Json.arr(r.cells.toSeq.sortBy(_._1).map { case ((f, c, rw), v) =>
      Json.arr(Seq(Json.str(f), c.toString, rw.toString, Json.num(v))) })))
}
