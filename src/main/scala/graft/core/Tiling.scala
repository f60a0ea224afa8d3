package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planar grid tiling index. Replaces the reference's reliance on PostGIS
  * GIST indexes (`postgeoda/notes.md:174-200`) with an equi-joinable cell
  * id: points land in one cell, polygons explode to every bbox-overlapping
  * cell, and spatial joins become shuffles keyed by cell (SURVEY §7.3-7.4).
  *
  * The cell id formula is deliberately simple arithmetic —
  * `(ix + OFF) * 2^21 + (iy + OFF)` — so the same definition is
  * expressible in ANSI SQL for the DuckDB oracle, and so Iceberg/parquet
  * min-max stats on the cell column give partition pruning for free.
  * Valid for |ix|,|iy| < 2^20 (±10^6 cells per axis).
  */
object Tiling {
  val Off: Long = 1L << 20
  val Mul: Long = 1L << 21

  @inline def ix(x: Double, cellSize: Double): Long =
    math.floor(x / cellSize).toLong

  @inline def cellId(x: Double, y: Double, cellSize: Double): Long =
    (ix(x, cellSize) + Off) * Mul + (ix(y, cellSize) + Off)

  @inline def cellOf(ixv: Long, iyv: Long): Long = (ixv + Off) * Mul + (iyv + Off)

  @inline def cellIx(cell: Long): Long = cell / Mul - Off
  @inline def cellIy(cell: Long): Long = cell % Mul - Off

  /** Column form — pure `functions._` arithmetic, stays in codegen and
    * matches the oracle SQL `(CAST(floor(x/s) AS BIGINT)+1048576)*2097152
    * + CAST(floor(y/s) AS BIGINT)+1048576` exactly.
    */
  def cellIdCol(x: Column, y: Column, cellSize: Double): Column =
    (floor(x / cellSize).cast("long") + Off) * Mul +
      (floor(y / cellSize).cast("long") + Off)

  /** Cell-id offsets of the Chebyshev-radius-`r` block (dx-major): a
    * cell id plus each offset is one cell of the block around it.
    */
  def blockDeltas(r: Int): Array[Long] =
    (for (dx <- -r to r; dy <- -r to r) yield dx.toLong * Mul + dy).toArray

  /** Cell edge from point density: square cells holding ~`perCell`
    * points under uniform density, `sqrt(w·h·perCell/n)` over the
    * bounding box of `x`, `y`. Serves the kNN cells and the auto
    * TileLisa windows alike.
    */
  def densityEdge(points: DataFrame, perCell: Double, x: Column,
                  y: Column): Double = {
    val b = points.agg(min(x), max(x), min(y), max(y), count(lit(1))).head()
    require(!b.isNullAt(0), "density cell edge over empty points")
    val w = math.max(b.getDouble(1) - b.getDouble(0), 1e-9)
    val h = math.max(b.getDouble(3) - b.getDouble(2), 1e-9)
    val n = b.getLong(4)
    math.max(math.sqrt(w * h * perCell / math.max(1L, n)), 1e-9)
  }

  /** Cells overlapped by a bbox (for polygon tiling). */
  def bboxCells(minX: Double, minY: Double, maxX: Double, maxY: Double,
                cellSize: Double): Array[Long] = {
    val x0 = ix(minX, cellSize); val x1 = ix(maxX, cellSize)
    val y0 = ix(minY, cellSize); val y1 = ix(maxY, cellSize)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var k = 0
    var cx = x0
    while (cx <= x1) {
      var cy = y0
      while (cy <= y1) { out(k) = cellOf(cx, cy); k += 1; cy += 1 }
      cx += 1
    }
    out
  }
}
