package graftbench

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Encoders, SparkSession}

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so the same seed gives byte-identical tables, and the layer
  * probes in [[Layers]] can rebuild any sample row without Spark.
  *
  * The fact tables mirror the shape of the contract's synthetic star
  * schema (column names, types, value domains), at the sizes in [[Sizes]].
  * They are written as ONE parquet file each, like the contract's testdata,
  * so `SparkEntry`'s prep repartition runs exactly as it does there. The
  * distinct-geometry table is written as one file per core.
  */
object Inputs {

  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, stream, i). */
  def draw(seed: Long, stream: Int, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(seed * 1000003L + stream) ^ i), n)

  // ---- distinct geometries --------------------------------------------

  /** Row k of the distinct table: kind 0 is the reference's i-ramp line
    * `LINESTRING(k k+1,k+2 k+3,k+4 k+5)`, kind 1 the square
    * `[k, k+s] x [y, y+s]`. Every row is a different geometry, so no
    * per-thread cache can hold the working set. */
  final case class Geom(id: Long, kind: Int, y: Int, s: Int, geom: Array[Byte])

  def geomRow(seed: Long, k: Long): Geom = {
    val kind = if (draw(seed, 40, k, 4) == 0) 1 else 0
    val y = draw(seed, 41, k, 1000).toInt
    val s = 1 + draw(seed, 42, k, 3).toInt
    Geom(k, kind, y, s, if (kind == 0) lineEwkb(k) else squareEwkb(k, y, s))
  }

  private def cell(wkbType: Int, body: Int): ByteBuffer = {
    val b = ByteBuffer.allocate(1 + 1 + 4 + body).order(ByteOrder.LITTLE_ENDIAN)
    b.put(2.toByte) // dialect tag: EWKB
    b.put(1.toByte) // little-endian WKB
    b.putInt(wkbType)
    b
  }

  private def lineEwkb(k: Long): Array[Byte] = {
    val b = cell(2, 4 + 3 * 16)
    b.putInt(3)
    for (j <- 0 until 3) { b.putDouble(k + 2.0 * j); b.putDouble(k + 2.0 * j + 1) }
    b.array()
  }

  private def squareEwkb(k: Long, y: Int, s: Int): Array[Byte] = {
    val b = cell(3, 4 + 4 + 5 * 16)
    b.putInt(1)
    b.putInt(5)
    for ((dx, dy) <- Seq((0, 0), (s, 0), (s, s), (0, s), (0, 0))) {
      b.putDouble((k + dx).toDouble); b.putDouble((y + dy).toDouble)
    }
    b.array()
  }

  // ---- star-schema tables -----------------------------------------------

  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.time.LocalDateTime)

  def lineitem(seed: Long, i: Long, rows: Long): Lineitem = {
    val qty = 1 + draw(seed, 5, i, 50)
    Lineitem(
      l_orderkey = draw(seed, 1, i, rows / 4),
      l_partkey = draw(seed, 2, i, rows / 30),
      l_suppkey = draw(seed, 3, i, 100),
      l_linenumber = 1 + draw(seed, 4, i, 7).toInt,
      l_quantity = qty.toDouble,
      l_extendedprice = qty * (900 + draw(seed, 6, i, 100000)) / 100.0,
      l_discount = draw(seed, 7, i, 11) / 100.0,
      l_tax = draw(seed, 8, i, 9) / 100.0,
      l_returnflag = IndexedSeq("A", "N", "R")(draw(seed, 9, i, 3).toInt),
      l_linestatus = IndexedSeq("O", "F")(draw(seed, 10, i, 2).toInt),
      l_shipdate = java.time.LocalDateTime.of(1992, 1, 1, 0, 0)
        .plusDays(draw(seed, 11, i, 3650)))
  }

  /** The contract corpus's 30-word vocabulary. */
  val vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(' ')

  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** 10-100 random vocabulary words; 5% of docs are an earlier doc plus
    * the word `dup` (near-duplicates) and 0.2% an exact copy of one. */
  def text(seed: Long, i: Long): String = {
    val r = draw(seed, 20, i, 1000)
    if (i > 0 && r < 2) text(seed, draw(seed, 21, i, i))
    else if (i > 0 && r < 52) text(seed, draw(seed, 21, i, i)) + " dup"
    else {
      val n = 10 + draw(seed, 22, i, 91).toInt
      val sb = new StringBuilder
      for (w <- 0 until n) {
        if (w > 0) sb += ' '
        sb ++= vocab(draw(seed, 23, i * 128 + w, vocab.length).toInt)
      }
      sb.toString
    }
  }

  def document(seed: Long, i: Long): Document = {
    val t = text(seed, i)
    val l = draw(seed, 24, i, 100)
    val lang = if (l < 41) "en" else if (l < 56) "zh" else if (l < 70) "de"
      else if (l < 85) "es" else "fr"
    Document(i, t, lang, s"src${i % 20}", t.length.toLong)
  }

  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def embedding(seed: Long, i: Long): Embedding =
    Embedding(i, Array.tabulate(64)(d =>
      ((draw(seed, 30, i * 64 + d, 20001) - 10000) / 50000.0).toFloat),
      draw(seed, 31, i, 10).toInt)

  final case class Region(r_regionkey: Int, r_name: String)

  // ---- writers ------------------------------------------------------------

  /** Writes the tables `names` under `dir` (`<dir>/<table>.parquet`). */
  def write(spark: SparkSession, dir: String, seed: Long, sizes: Sizes,
      names: Set[String]): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    def range(n: Long) = spark.range(0, n, 1, cores).as(Encoders.scalaLong)
    // one plain parquet FILE per table, as the contract's testdata ships
    def single(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
      val tmp = new java.io.File(s"$dir/_$t")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
    }
    import spark.implicits._
    if (names("geoms"))
      range(sizes.geoms).map(k => geomRow(seed, k)).toDF()
        .write.mode("overwrite").parquet(s"$dir/geoms.parquet")
    if (names("lineitem"))
      single(range(sizes.lineitem).map(i => lineitem(seed, i, sizes.lineitem)).toDF(),
        "lineitem")
    if (names("documents"))
      single(range(sizes.documents).map(i => document(seed, i)).toDF(), "documents")
    if (names("embeddings"))
      single(range(sizes.embeddings).map(i => embedding(seed, i)).toDF(), "embeddings")
    if (names("region"))
      single(Seq(Region(0, "AFRICA"), Region(1, "AMERICA"), Region(2, "ASIA"),
        Region(3, "EUROPE"), Region(4, "MIDDLE EAST")).toDF(), "region")
  }
}

/** Row counts of the generated tables. */
final case class Sizes(geoms: Long, lineitem: Long, documents: Long, embeddings: Long)
