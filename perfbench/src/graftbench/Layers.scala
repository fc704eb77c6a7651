package graftbench

import graft.functions.{GeoKernels, TextKernels, VecKernels}
import graft.geo.GeomCodec
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/** Single-thread rates of graft's codec and kernel layers, timed by direct
  * calls on samples rebuilt from the run's seeded generators. Each probe
  * runs once to warm the JIT, then `reps` times; the median rate counts. */
object Layers {

  private val reps = 5

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Items per second of `body`, which processes `items` items per call. */
  private def rate(items: Int)(body: => Unit): Double = {
    body
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      items / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def count(xs: Array[Boolean]): Int = xs.count(identity)

  def measure(seed: Long): Map[String, Double] = {
    val n = 20000
    val cells = Array.tabulate(n)(k => Inputs.geomRow(seed, k.toLong).geom)
    val geoms = cells.map(GeomCodec.decode)
    val wkts = geoms.map(graft.geo.WktWriter.write)
    // the cache-resident regime: the contract's 700 lineitem points
    val residentWkt = Array.tabulate(n)(i =>
      s"POINT(${Inputs.draw(seed, 1, i, 15000) % 100} ${(1 + Inputs.draw(seed, 4, i, 7)) * 10})")
    val residentCells = residentWkt.map(GeoKernels.geomFromText)
    val point = GeoKernels.geomFromText("POINT(10 11)")
    val half = n / 2
    val square = GeoKernels.geomFromText(s"POLYGON((0 0,$half 0,$half $half,0 $half,0 0))")
    var sink = 0L

    val docs = Array.tabulate(2000)(i => Inputs.text(seed, i.toLong))
    val docBytes = docs.map(_.getBytes("UTF-8"))
    val vecs = Array.tabulate(2000)(i =>
      UnsafeArrayData.fromPrimitiveArray(Inputs.embedding(seed, i.toLong).embedding))

    val out = Map(
      "geo.decode_rows_s" -> rate(n)(cells.foreach(c => sink += GeomCodec.decode(c).getNumPoints)),
      "geo.encode_rows_s" -> rate(n)(geoms.foreach(g => sink += GeomCodec.encodeEwkb(g).length)),
      "geo.parse_wkt_rows_s" -> rate(n)(wkts.foreach(w => sink += GeomCodec.parseWkt(w).getNumPoints)),
      "functions.intersects_rows_s.distinct" ->
        rate(n)(sink += count(cells.map(c => GeoKernels.intersects(c, point)))),
      "functions.intersects_rows_s.resident" ->
        rate(n)(sink += count(residentCells.map(c => GeoKernels.intersects(c, point)))),
      "functions.geomFromText_rows_s.distinct" ->
        rate(n)(wkts.foreach(w => sink += GeoKernels.geomFromText(w).length)),
      "functions.geomFromText_rows_s.resident" ->
        rate(n)(residentWkt.foreach(w => sink += GeoKernels.geomFromText(w).length)),
      "functions.asText_rows_s" -> rate(n)(cells.foreach(c => sink += GeoKernels.asText(c).length)),
      "functions.buffer_rows_s" ->
        rate(n / 4)((0 until n / 4).foreach(i => sink += GeoKernels.buffer(cells(i), 1.0, 2).length)),
      "functions.relate_rows_s" ->
        rate(n)(sink += count(cells.map(c => GeoKernels.relateMatch(c, square, "T*F**F***")))),
      "functions.tokens_rows_s" -> rate(docs.length)(docs.foreach(d => sink += TextKernels.tokens(d).length)),
      "functions.minhashSig_rows_s" ->
        rate(docs.length)(docs.foreach(d => sink += TextKernels.minhashSig(d, 64)(0))),
      "functions.jaccardBytes_pairs_s" -> rate(docs.length * 10)(
        for (i <- docs.indices; j <- 1 to 10)
          sink += (TextKernels.jaccardBytes(docBytes(i), docBytes((i + j) % docs.length)) * 8).toLong),
      "functions.cosineF_pairs_s" -> rate(vecs.length * 10)(
        for (i <- vecs.indices; j <- 1 to 10)
          sink += (VecKernels.cosineF(vecs(i), vecs((i + j) % vecs.length)) * 8).toLong))
    if (sink == 42L) System.err.println("") // keeps the results observable to the JIT
    out
  }
}
