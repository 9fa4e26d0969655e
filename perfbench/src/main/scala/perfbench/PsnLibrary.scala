package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.psn.{FakePsnClient, GameTitleRaw, TrophySummary}

/** Seeded synthetic PSN library: one player's titles and trophy counts,
  * advanced one day at a time. Each call to [[nextDay]] plays about
  * `playShare` of the existing titles (each play raises play_count by 1-3
  * and play time by 1-120 minutes) and adds about `newShare` new titles,
  * then returns the day's [[FakePsnClient]] together with what a correct
  * `DailyRun.run` must report for it. All inputs are built here, outside
  * any timer; the program only ever sees the finished client.
  *
  * Closed form kept for the end-of-run check: each title's play count at
  * first ingestion (bootstrap or the day it appeared), so the per-title
  * sum of `play_count_diff` in `time_play` must equal final - first. */
final class PsnLibrary(seed: Long, titles: Int, playShare: Double,
    newShare: Double) {
  private val rnd = new SplittableRandom(seed)
  private val Day0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
  private val Categories = Array("ps4_game", "ps5_native_game", "pspc_game")

  private val rawId = ArrayBuffer[String]()
  private val category = ArrayBuffer[String]()
  private val firstPlayed = ArrayBuffer[Long]()
  private val lastPlayed = ArrayBuffer[Long]()
  private val playCount = ArrayBuffer[Long]()
  private val playSeconds = ArrayBuffer[Long]()
  private val firstCount = ArrayBuffer[Long]()
  private var trophies = TrophySummary(100, 30, 8, 1)
  private var day = 0

  private def addTitle(now: Long): Unit = {
    val i = rawId.size
    val prefix = if (rnd.nextInt(3) == 0) "PPSA" else "CUSA"
    rawId += f"${prefix}_$i%07d" // last 7 chars stay unique: the id key
    category += Categories(rnd.nextInt(Categories.length))
    val first = now - rnd.nextLong(3L * 365 * 86400)
    firstPlayed += first
    lastPlayed += first + rnd.nextLong(now - first + 1)
    val c = 1L + rnd.nextInt(400)
    playCount += c
    firstCount += c
    playSeconds += c * (600L + rnd.nextInt(7200))
  }

  (0 until titles).foreach(_ => addTitle(Day0))

  def size: Int = rawId.size

  private def iso(seconds: Long): String =
    s"PT${seconds / 3600}H${seconds / 60 % 60}M${seconds % 60}S"

  /** The client the program ingests today: a snapshot, immutable. */
  def client(): FakePsnClient = {
    val rows = (0 until size).map { i =>
      GameTitleRaw(rawId(i), s"Title ${rawId(i)}", s"http://img/${rawId(i)}",
        category(i), new Timestamp(firstPlayed(i) * 1000),
        new Timestamp(lastPlayed(i) * 1000), playCount(i), iso(playSeconds(i)))
    }.toVector
    new FakePsnClient(trophies, rows)
  }

  /** Advances one day; returns the day's client and the expected
    * (new games, play-time deltas) counts. */
  def nextDay(): (FakePsnClient, (Long, Long)) = {
    day += 1
    val now = Day0 + day * 86400L
    val existing = size
    var played = 0L
    (0 until existing).foreach { i =>
      if (rnd.nextDouble() < playShare) {
        played += 1
        playCount(i) += 1 + rnd.nextInt(3)
        playSeconds(i) += 60 + rnd.nextInt(7200)
        lastPlayed(i) = now + rnd.nextInt(86400)
      }
    }
    val want = titles * newShare
    val fresh = want.toLong + (if (rnd.nextDouble() < want - want.toLong) 1 else 0)
    (0L until fresh).foreach(_ => addTitle(now))
    trophies = trophies.copy(bronze = trophies.bronze + rnd.nextInt(5),
      silver = trophies.silver + rnd.nextInt(2))
    (client(), (fresh, played))
  }

  /** (title_id as the program stores it, final - first play count) for
    * every title whose play count changed. */
  def playCountGrowth: Seq[(String, Long)] =
    (0 until size).collect {
      case i if playCount(i) != firstCount(i) =>
        (rawId(i).replace("_", ""), playCount(i) - firstCount(i))
    }
}
