package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.etl.Etl
import graft.io.{Readers, Writers}
import graft.model.{Format, Tables, Zone}
import graft.operators.Dedup

/** Per-pass state handed to every step: the session, the generated input
  * directory, the benchmark's own zone root, and the pass's counters.
  */
final class Ctx(val spark: SparkSession, val data: String, val zones: String) {
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val state = mutable.HashMap.empty[String, String]
  def zone(name: String): Zone = Zone(s"$zones/$name", Format.Parquet)
}

/** One call into the program. `run` does the timed work and returns the
  * output check, which the benchmark evaluates after the timed window; the
  * check yields the output's fingerprint, compared against `gate`'s oracle
  * fingerprint (no comparison when `gate` is empty).
  */
final case class Step(name: String, layer: String, gate: String)(
    val run: Ctx => (() => String))

final case class Workload(name: String, steps: Seq[Step])

object Workloads {

  private val noCheck: () => String = () => ""

  private def collected(df: DataFrame): () => String = {
    val rows = df.collect().toSeq
    () => Canon.fingerprint(df.schema, rows)
  }

  private def gateStep(gate: String, name: String, layer: String): Step =
    Step(name, layer, gate)(c => collected(SparkEntry.queries(gate)(c.spark, c.data)))

  /** Warehouse-side gates of etl_zones: a join query and a windowed
    * streaming aggregation (the queries and streaming layers).
    */
  val etlGates: Seq[(String, String)] = Seq("q3_topk_join" -> "queries",
    "ev3_stream_window" -> "streaming")

  /** The gate o10_pipeline, called through Etl.pipeline so the run's
    * failed and skipped tasks are visible; the table read-back is the
    * gate's output. Then the warehouse-side gates over the generated
    * tables.
    */
  val etlZones: Workload = Workload("etl_zones", Seq(
    Step("pipeline", "pipeline", "") { c =>
      val (run, fq) = Etl.pipeline(c.spark, graft.Scratch.fresh("etl"),
        s"${c.data}/lineitem.parquet", orderBy = Seq("l_orderkey", "l_linenumber"))
      c.counters("pipeline.tasks_failed") = (run.failed.size + run.skipped.size).toDouble
      require(run.succeeded,
        s"pipeline failed: ${run.failed.mkString(",")} skipped: ${run.skipped.mkString(",")}")
      c.state("table") = fq
      noCheck
    },
    Step("table_read", "io", "o10_pipeline") { c =>
      val fq = c.state.getOrElse("table", sys.error("pipeline step did not load a table"))
      collected(c.spark.table(fq).agg(count(lit(1)).as("n")))
    }) ++ etlGates.map { case (g, layer) => gateStep(g, g, layer) })

  /** Corpus → exact pairs → clusters → deduplicated corpus, and MinHash
    * LSH pairs checked against the exact ones; every step hands off
    * through a zone write and read. The checks collect the (small) zones
    * and compare on the driver. Then the other training-data operators:
    * vector search, BM25 retrieval and a graph BFS.
    */
  val curation: Workload = {
    def docs(c: Ctx) = Tables.load(c.spark, c.data, "documents")
    def read(c: Ctx, z: String) = Readers.zone(c.spark, c.zone(z))
    def zoneFp(c: Ctx, z: String, shape: DataFrame => DataFrame = identity): () => String = () => {
      val df = shape(read(c, z))
      val rows = df.collect().toSeq
      c.counters(s"operators.dedup.$z") = rows.size.toDouble
      Canon.fingerprint(df.schema, rows)
    }
    def local(fields: Seq[(String, DataType)], rows: Seq[Row]): String =
      Canon.fingerprint(StructType(fields.map { case (n, t) => StructField(n, t) }), rows)
    Workload("curation", Seq(
      Step("pairs", "operators.dedup", "x2_jaccard_pairs") { c =>
        Writers.zone(Dedup.jaccardPairs(docs(c), "doc_id", "text", n = 3, threshold = 0.8),
          c.zone("pairs"))
        zoneFp(c, "pairs")
      },
      Step("resolve", "operators.dedup", "x2_dedup_resolve") { c =>
        Writers.zone(Dedup.resolveClusters(docs(c), "doc_id", read(c, "pairs")),
          c.zone("labels"))
        zoneFp(c, "labels", _.withColumnRenamed("id", "doc_id"))
      },
      Step("corpus", "operators.dedup", "x2_dedup_corpus") { c =>
        Writers.zone(Dedup.dedupByClusters(docs(c), "doc_id", read(c, "labels")),
          c.zone("kept"))
        () => {
          val lang = docs(c).select("doc_id", "lang").collect()
            .map(r => r.get(0) -> r.getString(1)).toMap
          val kept = read(c, "kept").select("doc_id").collect().map(_.get(0))
          val nKept = kept.groupBy(lang).view.mapValues(_.length.toLong).toMap
          val nDocs = lang.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
          c.counters("operators.dedup.kept_frac") = kept.length.toDouble / math.max(lang.size, 1)
          local(Seq("lang" -> StringType, "n_docs" -> LongType, "n_kept" -> LongType),
            nDocs.toSeq.map { case (l, n) => Row(l, n, nKept.getOrElse(l, 0L)) })
        }
      },
      // The gate x2_minhash_k64's verdict row, from the LSH pairs and the
      // exact pairs of the first step.
      Step("lsh", "operators.dedup", "x2_minhash_k64") { c =>
        Writers.zone(Dedup.minHashLsh(docs(c), "doc_id", "text", n = 3, k = 64, bands = 16,
          threshold = 0.8), c.zone("lsh"))
        () => {
          def pairSet(z: String) = read(c, z).select("da", "db").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val (exact, lsh) = (pairSet("pairs"), pairSet("lsh"))
          val hit = (lsh & exact).size
          c.counters("operators.dedup.lsh_recall") =
            if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
          local(Seq("n_exact" -> LongType, "surfaced_subset" -> BooleanType,
            "recall_ok" -> BooleanType),
            Seq(Row(exact.size.toLong, lsh.size == hit, hit >= 0.9 * exact.size)))
        }
      },
      gateStep("x3_ivfpq", "ivfpq", "operators.similarity"),
      gateStep("x5_bm25", "bm25", "operators.textops"),
      gateStep("x8_bfs", "bfs", "operators.graph")))
  }

  val graphRounds: Workload = Workload("graph_rounds", Seq(
    gateStep("x8_bfs", "bfs", "operators.graph"),
    gateStep("x8_sssp", "sssp", "operators.graph"),
    gateStep("x8_ktruss", "ktruss", "operators.graph")))

  val sqlGates: Seq[String] = Seq("q1_agg", "q3_topk_join", "q5_join_agg",
    "q18_large_orders", "w1_window", "a1_asof", "e1_upsert", "e2_scd2",
    "ev3_stream_window", "ev13_stream_incr_agg", "x3_ivfpq", "x5_bm25")

  val sqlMix: Workload = Workload("sql_mix", sqlGates.map(g => gateStep(g, g, "queries")))

  val all: Seq[Workload] = Seq(etlZones, curation, graphRounds, sqlMix)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
}
