package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.functions.{TextFunctions => TF}
import graft.ops.{BasketEdges, Bfs, GraphCapture, LabelProp, PageRank}

/** The job list of each batch workload. Composed jobs repeat their
  * catalog entry call for call and argument for argument, so the
  * catalog's DuckDB oracle checks them; the spans around each call are
  * the layer boundaries the traced run reports. */
object Workloads {

  /** A catalog entry as is: construction (which runs any eager captures
    * and checkpoints) is the `plan.build` span. */
  private def catalog(key: String): Job = Job(key, oracle = true, ctx =>
    Result(ctx.trace.span("plan.build")(SparkEntry.queries(key)(ctx.spark, ctx.dir))))

  // q205_graph_family_shared, with a span per ops call; the whole
  // construction is `plan.build`, as for a catalog entry, so its self
  // time is the construction outside the ops calls
  private val graphFamily = Job("q205_graph_family_shared", oracle = true, { ctx =>
    val (s, tr) = (ctx.spark, ctx.trace)
    Result(tr.span("plan.build") {
      val edges = tr.span("ops.basket_edges")(
        BasketEdges.edges(Tables.table(s, ctx.dir, "lineitem"), "l_orderkey", "l_partkey"))
      val g = tr.span("ops.graph_capture")(GraphCapture.capture(edges, "src", "dst", symmetrize = false))
      val lp = tr.span("ops.label_prop")(LabelProp.labelPropagation(g, iterations = 3))
      val pr = tr.span("ops.pagerank")(PageRank.pageRank(g, iterations = 2))
      val sources = Tables.table(s, ctx.dir, "part").filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"))
      val bf = tr.span("ops.bfs")(Bfs.hopDistance(g, sources, maxHops = 3))
      tr.span("ops.release")(g.release())
      lp.withColumnRenamed("id", "part")
        .join(pr.withColumnRenamed("id", "part"), "part")
        .join(bf.withColumnRenamed("id", "part")
          .withColumn("hops", col("hops").cast("long")), Seq("part"), "left")
        .orderBy(col("part"))
    })
  })

  private val EltCatalog: Seq[String] = Seq("q106_cdc_merge", "q132_table_profile")

  /** Passes a run makes per 10 s of `--seconds`: fixed for a given run
    * length, so every run reports the median of the same number of passes. */
  val passesPer10s: Map[String, Int] = Map("graph" -> 2, "elt_sync" -> 2)

  /** The workload's jobs; `f` < 1 scales the EL inputs down for the warm
    * pass (the catalog jobs take their size from the input directory). */
  def jobs(workload: String, seed: Long, out: String, f: Double): Seq[Job] = workload match {
    case "graph" => Seq(graphFamily)
    case "elt_sync" =>
      val geoFiles = Elt.writeGeoFiles(s"$out/geo-src-$f", seed, f)
      Seq(Elt.wooJob(seed, f), Elt.oktaJob(seed, f), Elt.geoJob(geoFiles)) ++ EltCatalog.map(catalog)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private val WorkloadTables: Map[String, Seq[String]] = Map(
    "graph" -> Seq("lineitem", "part"),
    "elt_sync" -> Seq("orders", "lineitem", "customer", "events", "documents", "embeddings"))

  /** Rows of the generated tables the workload's catalog jobs read. */
  def inputRows(spark: SparkSession, workload: String, dir: String): Long =
    WorkloadTables(workload).map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum

  /** Per-row cost of the public text, md5 and vector Column functions,
    * each into a noop sink: the median of three runs after one warm run. */
  def kernels(docs: DataFrame, emb: DataFrame): Map[String, Double] = {
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val fns: Seq[(String, DataFrame, Double)] = Seq(
      ("functions.tokens_ns_row", docs.select(TF.tokens(col("text"))), nDocs),
      ("functions.shingles_ns_row", docs.select(TF.shingles(col("text"), 3)), nDocs),
      ("functions.md5_long_ns_row", docs.select(TF.md5Long(col("text"))), nDocs),
      ("functions.fingerprint_ns_row", docs.select(TF.fingerprint(col("text"))), nDocs),
      ("functions.cosine_ns_row", emb.select(graft.functions.VectorFunctions.cosine(
        col("embedding"), col("embedding"))), nEmb))
    fns.map { case (name, df, n) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      once()
      val ts = Seq.fill(3)(once()).sorted
      name -> ts(1) / n
    }.toMap
  }
}
