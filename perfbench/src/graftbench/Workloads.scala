package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.operators.{Dedup, SpatialJoin, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named sub-steps of one query's build, timed one by one. The persisted
  * index lifecycles record write/append/compact/probe here; with
  * `walkIndex`, the index directory is also walked after every step,
  * outside the step timers, for files and bytes written. */
final class Steps(walkIndex: Boolean) {
  val times = ArrayBuffer.empty[(String, Double)]
  var index: Option[IndexStats] = None

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally times += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Runs one index step and, when walking, adds the bytes it wrote. */
  def indexStep(name: String, stats: IndexStats)(body: => Unit): Unit = {
    apply(name)(body)
    if (walkIndex) stats.snapshot()
  }
}

/** Directory accounting for one persisted-index lifecycle. */
final class IndexStats(val dir: java.io.File, val inputBytes: Long) {
  private var seen = Map.empty[String, Long]
  var written = 0L

  private def files(): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }

  /** Adds every new or resized file since the last snapshot to `written`. */
  def snapshot(): Unit = {
    val now = files()
    written += now.collect { case (p, n) if !seen.get(p).contains(n) => n }.sum
    seen = now
  }

  def fileCount: Int = seen.size
  def bytes: Long = seen.values.sum
}

/** One benchmark query: `build` constructs the DataFrame (running any eager
  * work graft does at construction), the pass then executes it into the
  * `noop` sink. `oracle` is DuckDB SQL over the generated tables whose
  * result must equal the query's output. */
final case class Query(name: String, inputRows: Long, oracle: String,
    build: Steps => DataFrame)

/** After the check pass, a run makes `warmPasses` untimed passes and then
  * `ceil(seconds / passSeconds)` timed ones. geo's passes keep speeding up
  * for three passes after the check pass, curation's for one. `passSeconds`
  * is at most a warm pass's wall time on 4 cores (geo about 2.3 s, curation
  * about 5.8 s), so a run measures at least `--seconds`; curation's queries
  * jitter more, so it gets more passes per second of budget. */
final case class Workload(name: String, tables: Set[String], warmPasses: Int,
    passSeconds: Double, queries: Seq[Query])

object Workloads {

  val names: Seq[String] = Seq("geo", "curation")

  /** Row counts per workload: a warm pass takes a few seconds on 4 cores,
    * so a run fits its time budget. `indexSizes` is the corpus of the
    * persisted-index lifecycles that traced runs measure. */
  def sizes(workload: String): Sizes = workload match {
    case "geo" => Sizes(geoms = 100000, lineitem = 30000, documents = 0, embeddings = 0)
    case _ => Sizes(geoms = 0, lineitem = 30000, documents = 500, embeddings = 500)
  }
  val indexSizes: Sizes = Sizes(geoms = 0, lineitem = 0, documents = 1000, embeddings = 0)

  private lazy val entry = SparkEntry.queries
  private lazy val oracles = SparkEntry.oracleSql

  /** A contract query: built through `SparkEntry.queries` and checked
    * against its own oracle. The trailing global ORDER BY exists only for
    * the contract's compare, so it is stripped, as `graft.Bench` does. */
  private def contract(spark: SparkSession, dir: String, name: String,
      rows: Long): Query =
    Query(name, rows, oracles(name), _ => stripSort(spark, entry(name)(spark, dir)))

  private def stripSort(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    df.queryExecution.analyzed match {
      case Sort(_, true, child, _) => org.apache.spark.sql.graft.Shims.ofRows(spark, child)
      case _ => df
    }
  }

  def apply(name: String, spark: SparkSession, dir: String, work: String): Workload = {
    val sz = sizes(name)
    name match {
      case "geo" =>
        val li = sz.lineitem
        Workload(name, Set("geoms", "lineitem", "region"), 2, 2.0,
          distinct(spark, sz.geoms) ++ Seq(
            contract(spark, dir, "q02_astext", li),
            contract(spark, dir, "q11_buffer_bbox", li),
            contract(spark, dir, "q14_extent", li),
            contract(spark, dir, "q33_ref_linestring_intersects", li),
            contract(spark, dir, "q70_topo_predicates", li),
            contract(spark, dir, "q18_spatial_join_bcast", li + 5),
            contract(spark, dir, "q19_spatial_join_grid", li + 5)))
      case "curation" =>
        val d = sz.documents
        val e = sz.embeddings
        Workload(name, Set("lineitem", "documents", "embeddings"), 1, 3.0, Seq(
          contract(spark, dir, "q28_minhash_lsh", d),
          contract(spark, dir, "q189_triangle_stats", sz.lineitem),
          contract(spark, dir, "q202_jaccard_join", math.min(d, 2000)),
          contract(spark, dir, "q244_retrieval_e2e", d + e)))
      case other =>
        throw new IllegalArgumentException(
          s"unknown workload '$other' (one of ${names.mkString(", ")})")
    }
  }

  // ---- geo, distinct regime ---------------------------------------------

  /** Queries over the distinct-geometry table `geoms` (see
    * [[Inputs.geomRow]]). Expected outputs follow from the integer
    * columns by plain arithmetic, so the oracles are vanilla SQL. */
  private def distinct(spark: SparkSession, n: Long): Seq[Query] = {
    val half = n / 2
    val strips = 16
    val w = n / strips
    // x-extent of each row, for the join oracles
    val xmax = "CASE WHEN kind = 0 THEN id + 4 ELSE id + s END"
    val stripSql = s"""SELECT CAST(id AS INT) AS sid,
      ST_MakeEnvelope(CAST(id * $w AS DOUBLE), -10.0,
        CAST(id * $w + ${w / 2} AS DOUBLE), CAST(${n + 10} AS DOUBLE)) AS sgeom
      FROM range(0, $strips)"""
    val joinOracle = s"""
      SELECT g.id, CAST(s.sid AS INT) AS sid
      FROM geoms g JOIN (SELECT range AS sid FROM range(0, $strips)) s
        ON g.id <= s.sid * $w + ${w / 2} AND $xmax >= s.sid * $w"""
    def sql(name: String, spark_sql: String, oracle: String) =
      Query(name, n, oracle, _ => spark.sql(spark_sql))
    Seq(
      sql("d_ref_intersects",
        "SELECT id, ST_Intersects(geom, ST_GeomFromText('POINT(10 11)')) AS hit FROM geoms",
        """SELECT id, CASE WHEN kind = 0 THEN id BETWEEN 6 AND 10
                 ELSE id <= 10 AND 10 <= id + s AND y <= 11 AND 11 <= y + s END AS hit
           FROM geoms"""),
      sql("d_astext", "SELECT id, ST_AsText(geom) AS wkt FROM geoms",
        """SELECT id, CASE WHEN kind = 0 THEN
                 'LINESTRING(' || id || ' ' || (id + 1) || ',' || (id + 2) || ' ' ||
                 (id + 3) || ',' || (id + 4) || ' ' || (id + 5) || ')'
               ELSE 'POLYGON((' || id || ' ' || y || ',' || (id + s) || ' ' || y || ',' ||
                 (id + s) || ' ' || (y + s) || ',' || id || ' ' || (y + s) || ',' ||
                 id || ' ' || y || '))' END AS wkt
           FROM geoms"""),
      sql("d_buffer_box",
        """SELECT id, round(bb.xmin, 6) AS bxmin, round(bb.ymin, 6) AS bymin,
                  round(bb.xmax, 6) AS bxmax, round(bb.ymax, 6) AS bymax
           FROM (SELECT id, box2d(ST_Buffer(geom, 1.0, 2)) AS bb FROM geoms)""",
        s"""SELECT id, CAST(id - 1 AS DOUBLE) AS bxmin,
                  CAST(CASE WHEN kind = 0 THEN id ELSE y - 1 END AS DOUBLE) AS bymin,
                  CAST($xmax + 1 AS DOUBLE) AS bxmax,
                  CAST(CASE WHEN kind = 0 THEN id + 6 ELSE y + s + 1 END AS DOUBLE) AS bymax
           FROM geoms"""),
      sql("d_extent",
        """SELECT kind, ext.xmin AS xmin, ext.ymin AS ymin, ext.xmax AS xmax, ext.ymax AS ymax
           FROM (SELECT kind, st_extent(geom) AS ext FROM geoms GROUP BY kind)""",
        s"""SELECT kind, CAST(min(id) AS DOUBLE) AS xmin,
                  CAST(min(CASE WHEN kind = 0 THEN id + 1 ELSE y END) AS DOUBLE) AS ymin,
                  CAST(max($xmax) AS DOUBLE) AS xmax,
                  CAST(max(CASE WHEN kind = 0 THEN id + 5 ELSE y + s END) AS DOUBLE) AS ymax
           FROM geoms GROUP BY kind"""),
      sql("d_relate_within",
        s"""SELECT id, ST_Relate(geom, ST_GeomFromText(
                 'POLYGON((0 0,$half 0,$half $half,0 $half,0 0))'), 'T*F**F***') AS within
           FROM geoms""",
        s"""SELECT id, CASE WHEN kind = 0 THEN id + 5 ELSE id + s END <= $half AS within
           FROM geoms"""),
      sql("d_wkb_roundtrip",
        """SELECT id, ST_NPoints(ST_GeomFromWKB(ST_AsBinary(geom))) AS np,
                  octet_length(ST_AsBinary(geom)) AS nb FROM geoms""",
        """SELECT id, CASE WHEN kind = 0 THEN 3 ELSE 5 END AS np,
                  CASE WHEN kind = 0 THEN 57 ELSE 93 END AS nb FROM geoms"""),
      Query("d_bcast_join", n + strips, joinOracle, _ =>
        SpatialJoin.broadcastJoin(spark.table("geoms").select("id", "geom"), "geom",
          spark.sql(stripSql), "sgeom").select("id", "sid")),
      Query("d_grid_join", n + strips, joinOracle, _ =>
        SpatialJoin.gridJoin(spark.table("geoms").select("id", "geom"), "geom",
          spark.sql(stripSql), "sgeom", cellSize = w.toDouble).select("id", "sid")))
  }

  // ---- index lifecycles ---------------------------------------------------

  private val bm25Queries = Seq((0L, "hash join"), (1L, "slow scan filter"),
    (2L, "vector window spark"), (3L, "nosuchtoken"))

  /** write -> append -> compact -> probe for the exact, LSH, hamming and
    * BM25 index families, on the contract's document splits (q217, q206,
    * q221 and q204), each into a fresh directory of its own under `work`.
    * Reads `documents` from `dir`, generated at [[indexSizes]]. */
  def indexLifecycles(spark: SparkSession, dir: String, work: String): Seq[Query] = {
    val seq = new java.util.concurrent.atomic.AtomicInteger()
    def fresh(family: String): java.io.File = {
      val f = new java.io.File(s"$work/index/$family-${seq.incrementAndGet()}")
      f.getParentFile.mkdirs()
      f
    }
    lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    // text bytes plus an 8-byte id per indexed row
    def textBytes(df: DataFrame): Long =
      df.agg(coalesce(sum(octet_length(col("text")) + 8), lit(0L))).head.getLong(0)
    // the q217 fixture: 97 distinct bodies
    def exactDocs(docs: DataFrame) = docs.selectExpr("doc_id",
      "concat('body ', CAST(doc_id % 97 AS STRING)) AS text")
    lazy val docBytes = textBytes(docs)
    lazy val exactBytes = textBytes(exactDocs(docs))
    val d = indexSizes.documents

    Seq(
      Query("index_exact", d, oracles("q217_exact_index"), st => {
        val idx = fresh("exact")
        val stats = new IndexStats(idx, exactBytes)
        val t = exactDocs(docs)
        st.indexStep("write", stats)(Dedup.writeExactIndex(
          t.where(col("doc_id") % 5 <= 2), "doc_id", "text", idx.toString))
        st.indexStep("append", stats)(Dedup.appendToExactIndex(spark, idx.toString,
          t.where(col("doc_id") % 5 === 3), "doc_id", "text"))
        st.indexStep("compact", stats)(Dedup.compactExactIndex(spark, idx.toString))
        st.index = Some(stats)
        st("probe")(Dedup.exactIndexHits(spark, idx.toString,
          t.where(col("doc_id") % 5 === 4), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"))
      }),
      Query("index_lsh", d, oracles("q206_lsh_compact"), st => {
        val idx = fresh("lsh")
        val stats = new IndexStats(idx, docBytes)
        val t = docs
        st.indexStep("write", stats)(Dedup.writeLshIndex(
          t.where(col("doc_id") % 5 <= 2), "doc_id", "text", idx.toString,
          numHashes = 64, bands = 64))
        st.indexStep("append", stats)(Dedup.appendToLshIndex(spark, idx.toString,
          t.where(col("doc_id") % 5 === 3), "doc_id", "text"))
        st.indexStep("compact", stats)(Dedup.compactLshIndex(spark, idx.toString))
        st.index = Some(stats)
        st("probe")(Dedup.nearDupsAgainstLshIndex(spark, idx.toString,
          t.where(col("doc_id") % 5 === 4), "doc_id", "text", corpus = t,
          threshold = 0.35, minBandHits = 4).select("ida", "idb", "inter", "uni"))
      }),
      Query("index_hamming", (d + 24) / 25, oracles("q221_hamming_index"), st => {
        val idx = fresh("hamming")
        // the q221 fixture: arithmetic 64-bit fingerprints, 16-doc groups
        val fp = docs.where("doc_id % 25 = 0")
          .selectExpr("doc_id", "(doc_id DIV 25) DIV 16 AS g",
            "(doc_id DIV 25) % 8 AS jit", "(doc_id DIV 25) % 4 AS m4")
          .selectExpr("doc_id", "m4", """
                 (((g * 2654435761) % 8192) * 8 + jit % 2)
                 + (((g * 2246822519) % 8192) * 8 + (jit DIV 2) % 2) * 65536
                 + (((g * 3266489917) % 8192) * 8 + (jit DIV 4) % 2) * 4294967296
                 + (((g * 668265263) % 2048) * 8) * 281474976710656 AS sh""")
        // an 8-byte id and an 8-byte fingerprint per indexed row
        val stats = new IndexStats(idx, 16L * ((d + 24) / 25))
        st.indexStep("write", stats)(Dedup.writeHammingIndex(
          fp.where(col("m4") <= 1), "doc_id", "sh", idx.toString, bands = 4))
        st.indexStep("append", stats)(Dedup.appendToHammingIndex(spark, idx.toString,
          fp.where(col("m4") === 2), "doc_id", "sh"))
        st.indexStep("compact", stats)(Dedup.compactHammingIndex(spark, idx.toString))
        st.index = Some(stats)
        st("probe")(Dedup.hammingIndexPairs(spark, idx.toString,
          fp.where(col("m4") === 3), "doc_id", "sh", maxHamming = 3))
      }),
      Query("index_bm25", d, oracles("q204_bm25_compact"), st => {
        val idx = fresh("bm25")
        val stats = new IndexStats(idx, docBytes)
        val t = docs
        st.indexStep("write", stats)(TextAnalysis.writeBm25Index(
          t.where(col("doc_id") % 5 <= 2), "doc_id", "text", idx.toString))
        st.indexStep("append", stats)(TextAnalysis.appendToBm25Index(spark, idx.toString,
          t.where(col("doc_id") % 5 === 3), "doc_id", "text"))
        st.indexStep("append", stats)(TextAnalysis.appendToBm25Index(spark, idx.toString,
          t.where(col("doc_id") % 5 === 4), "doc_id", "text"))
        st.indexStep("compact", stats)(TextAnalysis.compactBm25Index(spark, idx.toString))
        st.index = Some(stats)
        val queries = spark.createDataFrame(bm25Queries).toDF("qid", "qtext")
        st("probe")(TextAnalysis.bm25SearchIndex(spark, idx.toString,
          queries, "qid", "qtext", k = 10))
      }))
  }
}
