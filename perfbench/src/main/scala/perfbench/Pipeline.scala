package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.psn.{Bootstrap, DailyRun, FakePsnClient, Ingest, Ops, TableStore}

/** The paper's own workload: bootstrap a synthetic library, then one
  * `DailyRun.run` per day. Untimed warm-up days absorb the JIT; the timed
  * days are the operations. Every day's (new, deltas) counts are checked
  * against the generator, and the tables at the end against its closed
  * form (see [[check]]).
  *
  * Traced mode keeps two warehouses fed the same days: A runs
  * `DailyRun.run` untraced, B replays its public calls in the same order,
  * each inside a span. Their order alternates by day. The B-minus-A day
  * median is the tracing overhead, and at the end A and B must hold the
  * same tables. */
object Pipeline {
  /** `jitDays` untimed days on a throwaway library of at most `JitTitles`
    * titles warm the JIT cheaply; then `warmDays` untimed and `days` timed
    * days on the workload's own library. */
  final case class Size(titles: Int, jitDays: Int, warmDays: Int, days: Int)

  val JitTitles = 2000

  val PlayShare = 0.03
  val NewShare = 0.005

  /** `DailyRun.run`, call for call, with a span around each call. */
  def replay(spark: SparkSession, client: FakePsnClient, store: TableStore,
      t: Trace): (Long, Long) = {
    val trophy = t.span("ingest.trophy")(Ingest.trophySnapshot(spark, client))
    t.span("store.append")(store.append("trophee", trophy))
    val current = t.span("ingest.games")(Ingest.gameTitles(spark, client))
    current.cache()
    val stored = t.span("store.read")(store.read("game")
      .select("id", "title_name", "first_played_date_time",
        "last_played_date_time", "play_count", "play_duration"))
    val (fresh, nNew) = t.span("ops.new_games") {
      val f = Ops.newGames(current, stored)
      (f, f.count())
    }
    if (nNew > 0) t.span("store.append")(store.append("game", fresh))
    val (deltas, nDeltas) = t.span("ops.deltas") {
      val d = Ops.playTimeDeltas(stored, current)
      d.cache()
      (d, d.count())
    }
    if (nDeltas > 0) {
      t.span("store.append")(store.append("time_play", deltas))
      val toUpdate = t.span("ops.needing_update")(
        Ops.gamesNeedingUpdate(current, deltas))
      t.span("store.merge")(store.merge("game", toUpdate))
    }
    deltas.unpersist()
    current.unpersist()
    (nNew, nDeltas)
  }

  def run(spark: SparkSession, seed: Long, size: Size, traced: Boolean,
      dir: Path, launchMs: Long): Outcome = {
    val out = new Outcome
    if (size.jitDays > 0) {
      val lib = new PsnLibrary(seed + 1, math.min(size.titles, JitTitles),
        PlayShare, NewShare)
      val store = new TableStore(spark, Main.freshDir(dir.resolve("warehouse_jit")).toString)
      Bootstrap.run(spark, lib.client(), store)
      (1 to size.jitDays).foreach { _ =>
        val (c, want) = lib.nextDay()
        out.expect(timed = false, out.attempt(timed = false)(
          DailyRun.run(spark, c, store)), want, "DailyRun.run")
      }
      Main.log(launchMs, "jit warm-up done")
    }
    val lib = new PsnLibrary(seed, size.titles, PlayShare, NewShare)
    val whA = Main.freshDir(dir.resolve("warehouse"))
    val storeA = new TableStore(spark, whA.toString)
    val whB = if (traced) Some(Main.freshDir(dir.resolve("warehouse_traced"))) else None
    val storeB = whB.map(w => new TableStore(spark, w.toString))
    val trace = new Trace(spark)
    if (traced) trace.attach()

    var client = lib.client()
    (storeA +: storeB.toSeq).foreach(Bootstrap.run(spark, client, _))
    Main.log(launchMs, "bootstrapped")
    var days = 0
    def step(timed: Boolean, dayNo: Int): Unit = {
      val (c, want) = lib.nextDay()
      client = c
      days += 1
      if (!timed) Main.log(launchMs, s"warm day $dayNo")
      val untraced = () => {
        val t0 = System.nanoTime()
        val got = out.attempt(timed)(DailyRun.run(spark, c, storeA))
        if (timed) out.sample("day", (System.nanoTime() - t0) / 1e9)
        out.expect(timed, got, want, "DailyRun.run")
      }
      val replayed = () => storeB.foreach { s =>
        val before = if (timed) Main.files(whB.get) else Map.empty[Path, Long]
        val t0 = System.nanoTime()
        val got = out.attempt(timed)(trace.span(if (timed) "day" else "warm")(
          replay(spark, c, s, trace)))
        if (timed) out.sample("day_traced", (System.nanoTime() - t0) / 1e9)
        out.expect(timed, got, want, "replay")
        if (timed) {
          out.count("store.bytes_written", Main.newBytes(whB.get, before), "bytes")
          // merge rewrites the whole table to update the changed rows
          out.count("store.merge_useful_ratio", want._2 / lib.size.toDouble, "ratio")
          out.count("ops.delta_yield", want._2 / (lib.size - want._1).toDouble, "ratio")
        }
      }
      if (dayNo % 2 == 0) { untraced(); replayed() }
      else { replayed(); untraced() }
    }
    (1 to size.warmDays).foreach(d => step(timed = false, d))
    out.firstTimedOp(launchMs)
    (1 to size.days).foreach(d => step(timed = true, d))
    Main.log(launchMs, "timed days done")

    out.check("tables", check(spark, storeA, lib, client, 1 + days))
    storeB.foreach(b => out.check("replay leaves the tables DailyRun.run leaves",
      Seq("game", "time_play", "trophee").forall(t => same(storeA.read(t), b.read(t)))))

    out.metric("warehouse_mb", Main.dirBytes(whA) / 1e6, "MB")
    if (traced) {
      trace.flush()
      trace.write(dir.resolve("spans.jsonl"))
      trace.report(out, trace.spans.filter(s => s.parent == 0 && s.name == "day"))
      out.traceOverhead("day", "day_traced")
      Main.storeShape(out, Seq(whB.get))
    }
    out.summarize(Seq("day"))
    out
  }

  private def same(a: DataFrame, b: DataFrame): Boolean = {
    val bb = b.select(a.columns.map(col).toIndexedSeq: _*)
    a.exceptAll(bb).isEmpty && bb.exceptAll(a).isEmpty
  }

  /** Closed-form check of the tables after the last day:
    *  - `game` equals the last day's cleaned library;
    *  - per title, the sum of `play_count_diff` equals final minus first
    *    play count;
    *  - `trophee` holds one row per run (bootstrap + every day). */
  def check(spark: SparkSession, store: TableStore, lib: PsnLibrary,
      last: FakePsnClient, runs: Int): Boolean = {
    import spark.implicits._
    val game = store.read("game")
    val gameOk = same(game, Ingest.gameTitles(spark, last))
    val growth = store.read("time_play").groupBy("id")
      .agg(sum("play_count_diff").as("growth"))
      .join(game.select("id", "title_id"), "id")
      .select("title_id", "growth")
    val growthOk = same(growth, lib.playCountGrowth.toDF("title_id", "growth"))
    val trophyOk = store.read("trophee").count() == runs
    if (!gameOk) System.err.println("[perfbench] game != last day's library")
    if (!growthOk) System.err.println("[perfbench] time_play sums != closed form")
    if (!trophyOk) System.err.println(s"[perfbench] trophee rows != $runs")
    gameOk && growthOk && trophyOk
  }
}
