package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ops.Exec

/** The operator registry driven the way a library caller uses it: look a
  * query up in `SparkEntry.queries`, call it (construction runs the eager
  * checkpoints and gate counts), then run one action that consumes every
  * output column.
  */
object Registry {
  val Families: Seq[String] =
    Seq("rel", "store", "graph", "txt", "vec", "dedup", "ev", "ts", "qc", "mm", "medallion")

  /** Family by query-name prefix; the pipeline's parity queries (`s2_*`,
    * `s3`, `s6`, `g2`, `g5`, `src5`) form `medallion`.
    */
  def family(query: String): String = {
    val p = query.takeWhile(_ != '_')
    if (Families.contains(p)) p else "medallion"
  }

  /** The measured query set: one query of every family, each with a DuckDB
    * oracle, plus a second text query that reuses the first one's
    * session-scoped token counts. One pass fits the run budget on a 4-core
    * host at the generated scale.
    */
  val Selected: Seq[String] = Seq(
    "dedup_cdc_chunks", "ev_markov", "graph_scc", "mm_decode_dims", "qc_psi_drift",
    "rel_delta_agg_merge", "s3_time_parse", "store_zorder_stats", "ts_pacf",
    "txt_oov_rate", "txt_token_freq", "vec_knn_ood"
  ).sorted

  /** Seed 0 keeps the sorted order `graft.Bench` uses; others permute it.
    * `txt_token_freq` always runs right after `txt_oov_rate`, as in the
    * sorted order, so every pass reuses the shared token counts once; left to
    * the permutation, that reuse (most of the second query's time) would come
    * and go with the seed.
    */
  def order(seed: Long): Seq[String] =
    if (seed == 0) Selected
    else {
      // mixed: java.util.Random's first draws barely differ for nearby seeds
      val shuffled = new Random(scala.util.hashing.MurmurHash3.stringHash(s"order-$seed"))
        .shuffle(Selected.filter(_ != "txt_token_freq"))
      shuffled.flatMap(n => if (n == "txt_oov_rate") Seq(n, "txt_token_freq") else Seq(n))
    }

  /** A query's collected rows, kept for the oracle check. */
  final case class Answer(name: String, schema: StructType, rows: Array[Row])

  /** Runs one query as one operation: a throw (or a missing query) is a
    * failure and is never timed.
    */
  def run(spark: SparkSession, tracer: Tracer, name: String, dataDir: String,
          keep: Answer => Unit): OpResult = {
    val fam = family(name)
    val res = Ops.run("query", name) {
      tracer.span(s"registry.$fam") {
        val df = tracer.span(s"registry.$fam.build") { SparkEntry.queries(name)(spark, dataDir) }
        val rows = tracer.span(s"registry.$fam.action") { df.collect() }
        keep(Answer(name, df.schema, rows))
        (Outcome.Ok, rows.length.toLong)
      }
    }
    // the next query starts from a cold cache, as in graft.Bench
    Exec.clearPinned(spark)
    res
  }
}
