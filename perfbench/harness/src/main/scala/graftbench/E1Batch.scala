package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Pipeline, SparkEntry}
import graft.functions.TextClean

/** `e1_batch`: CineGraph's whole batch pipeline as repeated cold passes.
  * Each pass drops every memo and cached plan, scores the corpus
  * (clean → token windows → emotion scores), builds the act features
  * and the KMeans/Ward tree, and writes the graph table (partitioned by
  * depth), the movies table and the scored windows as parquet.
  */
final class E1Batch(spark: SparkSession, data: String, warmData: Seq[String], out: String,
    trace: Trace, oracle: Boolean) extends Main.Workload {

  val opsPerPass = 1
  private val passDirs = mutable.ArrayBuffer.empty[String]

  /** Runs one cold pass writing under `dir`, as the program runs E1:
    * the scored windows persisted, then the features and the tree from
    * them. Traced, each stage is also materialized on its own so that
    * its span holds its own work: the scored windows and the features
    * are counted (the identical feature plan inside e1FromScored then
    * reads that cache), and the tree's node count is taken.
    */
  def runPass(dir: String, data: String): Unit = {
    SparkEntry.clearCaches()
    spark.catalog.clearCache()
    val scored = trace.span("Pipeline.e1Scored") {
      val s = Pipeline.e1Scored(spark, data).persist()
      if (trace.on) trace.count("Chunker.windows", s.count())
      s
    }
    val feats = if (!trace.on) None else Some(trace.span("Pipeline.e1Features") {
      val f = Pipeline.e1Features(scored).persist()
      f.count()
      f
    })
    val gt = trace.span("GraphBuild.build") { Pipeline.e1FromScored(scored) }
    trace.span("sink.write") {
      gt.graph.write.mode("overwrite").partitionBy("depth").parquet(s"$dir/graph")
      gt.movies.write.mode("overwrite").parquet(s"$dir/movies")
      scored.write.mode("overwrite").parquet(s"$dir/scored")
    }
    if (trace.on) trace.count("GraphBuild.nodes", gt.graph.count())
    gt.persisted.foreach(_.unpersist())
    feats.foreach(_.unpersist())
    scored.unpersist()
  }

  def setup(warm: Int): Unit =
    (0 until warm).foreach(i => runPass(s"$out/e1/warm$i", warmData(i % warmData.size)))

  def pass(p: Int): Int = {
    val dir = s"$out/e1/pass$p"
    runPass(dir, data)
    passDirs += dir
    0
  }

  private val declared = if (oracle) Seq("q_e1_features", "q_e1_pipeline") else Nil

  /** The two declared E1 queries, for the oracle twin check. */
  override def finish(): Unit =
    declared.foreach { name =>
      SparkEntry.queries(name)(spark, data).write.mode("overwrite")
        .parquet(s"$out/oracle/$name")
    }

  def resultJson: String = {
    val twins = declared.map { n =>
      s"""{"name": "$n", "output": ${Main.q(s"$out/oracle/$n")}, "sql": ${Main.q(SparkEntry.oracleSql(n))}}"""
    }
    s""""pass_dirs": ${passDirs.map(Main.q).mkString("[", ", ", "]")},
       |"clean_sql": ${Main.q(TextClean.cleanSubtitlesSql("text"))},
       |"oracle": ${twins.mkString("[", ", ", "]")}""".stripMargin
  }

  def passLayers(p: Int): Map[String, Double] =
    if (!trace.on) Map.empty
    else Seq("Pipeline.e1Scored", "Pipeline.e1Features", "GraphBuild.build", "sink.write")
      .map(n => s"${n}_ms" -> trace.spanMs(p, n)).toMap
}
