package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A fixed set of oracle-backed registry queries over one data directory,
  * by family. This is the workload that goes through `ops.Sql`, the
  * `ext` operators and `streaming`, and through `TableStore` for reads
  * and DML beside the pipeline's appends and merges.
  *
  * One untimed pass writes every result for the oracle check (run.py
  * hashes it against DuckDB) and warms the JIT; then `passes` timed passes
  * run every query once each, in a seeded order per pass. Each query's
  * time covers building its plan and consuming every row (noop sink). */
object Mix {
  val Queries: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "relational",
    "q15_star_join" -> "relational",
    "q19_distinct_exact" -> "relational",
    "q69_data_skipping" -> "store_read",
    "q77_bloom_lookup" -> "store_read",
    "q56_sql_update_from" -> "statement",
    "q57_sql_merge" -> "statement",
    "q50_bucketed_join" -> "layout",
    "q76_zorder" -> "layout",
    "t12_dedup_clusters" -> "text",
    "t22_tfidf" -> "text",
    "e06_ann_ivf" -> "similarity",
    "m11_chunk_dedup" -> "similarity",
    "s18_stream_merge_replay" -> "streaming")

  val Families: Seq[String] = Queries.map(_._2).distinct

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, seed: Long, data: Path, passes: Int,
      traced: Boolean, dir: Path, launchMs: Long): Outcome = {
    val out = new Outcome
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val results = Main.freshDir(dir.resolve("results"))
    val stores = Seq(Main.freshDir(dir.resolve("tmp")), dir.resolve("index"))
    val trace = new Trace(spark)
    if (traced) trace.attach()

    // Correctness pass: every result to parquet, with its oracle SQL.
    Queries.foreach { case (name, _) =>
      out.attempt(timed = true) {
        registry(name)(spark, data.toString).coalesce(1)
          .write.parquet(results.resolve(name).toString)
      }
      spark.catalog.clearCache()
    }
    Files.writeString(results.resolve("oracle_sql.json"), Queries.map { case (n, _) =>
      s"${json(n)}: ${json(oracle(n))}" }.mkString("{", ", ", "}"))

    out.firstTimedOp(launchMs)
    val rnd = new Random(seed)
    (1 to passes).foreach { p =>
      // traced runs interleave untraced and traced passes as U T T U U T T
      // U ..., so a drift across the run weighs on both sides alike
      val spanned = traced && (p % 4 == 2 || p % 4 == 3)
      val before = if (spanned) stores.map(Main.files).reduce(_ ++ _) else Map.empty[Path, Long]
      val t0 = System.nanoTime()
      def body(): Unit = rnd.shuffle(Queries).foreach { case (name, family) =>
        val q0 = System.nanoTime()
        val ok = out.attempt(timed = true) {
          if (spanned) trace.span("mix." + family)(exec(registry(name)(spark, data.toString)))
          else exec(registry(name)(spark, data.toString))
        }.isDefined
        if (ok) out.sample(if (spanned) "traced:" + name else name, (System.nanoTime() - q0) / 1e9)
        spark.catalog.clearCache()
      }
      if (spanned) trace.span("pass")(body()) else body()
      out.sample(if (spanned) "pass_traced" else "pass", (System.nanoTime() - t0) / 1e9)
      if (spanned) out.count("store.bytes_written",
        stores.map(s => Main.newBytes(s, before)).sum, "bytes")
    }
    out.metric("warehouse_mb", stores.map(Main.dirBytes).sum / 1e6, "MB")
    out.summarize(Queries.map(_._1))
    if (traced) {
      trace.flush()
      trace.write(dir.resolve("spans.jsonl"))
      trace.report(out, trace.spans.filter(s => s.parent == 0 && s.name == "pass"))
      out.traceOverhead("pass", "pass_traced")
      Main.storeShape(out, stores)
      // the mix makes no store.merge call and computes no deltas of its own
      out.metric("store.merge_useful_ratio", 0.0, "ratio")
      out.metric("ops.delta_yield", 0.0, "ratio")
    }
    out
  }

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
