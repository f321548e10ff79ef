package graftbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry, Tables}
import graft.operators.clustering.GraphBuild

/** `serve_explore`: one closed-loop client clicking through the
  * explorer. Set-up builds and persists the E1 tables once; then the
  * client sends the explorer's two reads, node-children and
  * movie-with-embeddings, interleaved. A pass is a block of
  * [[Plan]]`.size` requests with a fixed mix: both kinds alternate, and
  * the ids come from four lists (leaf and inner nodes, documents with
  * and without an embedding), each shuffled by `seed` and cycled, so
  * every block, whatever the seed, asks for the same kinds of answer.
  */
final class ServeExplore(spark: SparkSession, data: String, out: String,
    trace: Trace, seed: Long) extends Main.Workload {

  /** One block: (request kind, id list), in the order they are sent.
    * Two of three node requests hit a leaf and two of three movie
    * requests a document without an embedding, near the tables' own
    * shares, so each kind's median lands in its common case.
    */
  val Plan: Seq[(String, String)] = Seq(
    "children" -> "leaf", "movie" -> "bare",
    "children" -> "inner", "movie" -> "embedded",
    "children" -> "leaf", "movie" -> "bare")
  val opsPerPass = Plan.size
  private val graphDir = s"$out/serve/graph"
  private val moviesDir = s"$out/serve/movies"
  private var graph: DataFrame = _
  private var movies: DataFrame = _
  private var ids: Map[String, Array[Long]] = Map.empty
  private val next = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val lat = Map("children" -> mutable.ArrayBuffer.empty[Double],
    "movie" -> mutable.ArrayBuffer.empty[Double])
  private val log = new BufferedWriter(new FileWriter(s"$out/responses.jsonl"))

  def setup(warm: Int): Unit = {
    SparkEntry.clearCaches()
    val scored = Pipeline.e1Scored(spark, data).persist()
    val gt = Pipeline.e1FromScored(scored)
    trace.span("sink.write") {
      gt.graph.write.mode("overwrite").partitionBy("depth").parquet(graphDir)
      gt.movies.write.mode("overwrite").parquet(moviesDir)
    }
    gt.persisted.foreach(_.unpersist())
    scored.unpersist()
    SparkEntry.clearCaches()
    graph = spark.read.parquet(graphDir)
    movies = spark.read.parquet(moviesDir)
    val nodes = graph.select(col("id"), col("children_count") === 0).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val vecs = Tables.embeddings(spark, data).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, data).select("doc_id").collect().map(_.getLong(0))
    val rnd = new scala.util.Random(seed)
    def shuffled(xs: Iterable[Long]): Array[Long] = rnd.shuffle(xs.toSeq.sorted).toArray
    val lists = Map(
      "leaf" -> shuffled(nodes.collect { case (i, true) => i }),
      "inner" -> shuffled(nodes.collect { case (i, false) => i }),
      "embedded" -> shuffled(docs.filter(vecs)),
      "bare" -> shuffled(docs.filterNot(vecs)))
    // small tables can leave a list empty (every sf0.001 document has an
    // embedding); its requests then take the other list of their kind
    val other = Map("leaf" -> "inner", "inner" -> "leaf", "embedded" -> "bare",
      "bare" -> "embedded")
    ids = lists.map { case (k, xs) => k -> (if (xs.nonEmpty) xs else lists(other(k))) }
    (0 until warm).foreach(_ => block(None))
  }

  private def children(id: Long): String = {
    val node = trace.span("serve.collect") {
      graph.filter(col("id") === id)
        .select("path", "depth", "children_count", "count").collect()
    }
    val kids = trace.span("GraphBuild.childrenOf") { GraphBuild.childrenOf(graph, id) }
    val (kidRows, movieRows) = trace.span("serve.collect") {
      (kids.collect(), movies.filter(col("graph_id") === id).select("movie_id").collect())
    }
    def str(x: Any): String = if (x == null) "null" else Main.q(x.toString)
    val n = node.headOption.map(r =>
      s"""[${str(r.get(0))}, ${r.get(1)}, ${r.get(2)}, ${r.get(3)}]""").getOrElse("null")
    val k = kidRows.map(r => (0 until r.length).map(i => r.get(i) match {
      case s: String => Main.q(s)
      case v => String.valueOf(v)
    }).mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val m = movieRows.map(_.getLong(0)).sorted.mkString("[", ", ", "]")
    s"""{"type": "children", "id": $id, "node": $n, "children": $k, "movies": $m}"""
  }

  /** The q_serve_movie_e3 shape for one doc_id. */
  private def movie(id: Long): String = {
    val rows = trace.span("serve.collect") {
      Tables.documents(spark, data).filter(col("doc_id") === id)
        .select(col("doc_id"), col("source"))
        .join(Tables.embeddings(spark, data), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("source"), posexplode(col("embedding")))
        .select(col("doc_id"), col("source"), (col("pos") + 1).cast("long").as("dim"),
          (round(col("col").cast("double"), 6) + lit(0.0)).as("x"))
        .collect()
    }
    val r = rows.sortBy(_.getLong(2)).map(x =>
      s"""[${x.getLong(0)}, ${Main.q(x.getString(1))}, ${x.getLong(2)}, ${x.getDouble(3)}]""")
    s"""{"type": "movie", "id": $id, "rows": ${r.mkString("[", ", ", "]")}}"""
  }

  /** One block of [[Plan]]; returns the number of failed requests. */
  private def block(p: Option[Int]): Int = {
    var failed = 0
    Plan.foreach { case (kind, list) =>
      val xs = ids(list)
      val id = xs(next(list) % xs.length)
      next(list) += 1
      val t0 = System.nanoTime()
      val resp =
        try Some(if (kind == "children") children(id) else movie(id))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $kind $id failed: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      resp match {
        case Some(js) =>
          if (p.isDefined) lat(kind) += ms
          log.write(js); log.newLine()
        case None => failed += 1
      }
    }
    failed
  }

  def pass(p: Int): Int = block(Some(p))

  override def finish(): Unit = log.close()

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  def resultJson: String = {
    val per = lat.toSeq.sortBy(_._1).map { case (k, xs) =>
      s""""$k": {"n": ${xs.size}, "p50_ms": ${pct(xs.toSeq, 0.5)}, "p95_ms": ${pct(xs.toSeq, 0.95)}}"""
    }
    s""""graph_dir": ${Main.q(graphDir)}, "movies_dir": ${Main.q(moviesDir)},
       |"responses": ${Main.q(s"$out/responses.jsonl")},
       |"latency": ${per.mkString("{", ", ", "}")}""".stripMargin
  }

  /** Per request, like the counters (Main divides those by opsPerPass). */
  def passLayers(p: Int): Map[String, Double] =
    if (!trace.on) Map.empty
    else Seq("GraphBuild.childrenOf", "serve.collect")
      .map(n => s"${n}_ms" -> trace.spanMs(p, n) / opsPerPass).toMap
}
