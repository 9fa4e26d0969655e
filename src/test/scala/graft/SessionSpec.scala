package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The shared session carries the settings every run depends on. Reads
  * the suite's session as built: another builder call would hand back the
  * same session with its conf rewritten. */
class SessionSpec extends AnyFunSuite {
  import TestSpark._

  test("session pins UTC, nanosAsLong and the 4096 group-limit threshold") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == "4096")
  }

  test("session has a fresh private index root, not the durable tmpdir one") {
    val dir = spark.conf.getOption("spark.graft.indexDir")
    assert(dir.nonEmpty, "spark.graft.indexDir is not set")
    val root = Paths.get(dir.get).toAbsolutePath.normalize
    assert(Files.isDirectory(root), s"$root does not exist")
    val durable = Paths.get(sys.props("java.io.tmpdir"), "graft_indexes")
      .toAbsolutePath.normalize
    assert(root != durable, s"index root is the durable $durable")
  }
}
