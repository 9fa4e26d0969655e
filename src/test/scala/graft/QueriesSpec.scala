package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Smoke + invariant coverage for every registered query at sf0.001.
  * Exact-value parity with DuckDB is gated by tools/check_oracle.py (and the
  * driver's own harness) at sf0.01; here we check plans execute and key
  * semantic invariants hold. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query has a unique name and executes") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    Registry.all.foreach { q =>
      val n = q.run(spark, sf).count()
      assert(n >= 0, s"${q.name} failed")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }

  test("entry (flagship star join) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q05 anti ∪ semi partitions customers (reference new_game invariant)") {
    import org.apache.spark.sql.functions._
    val c = graft.tables.Tables.customer(spark, sf)
    val o = graft.tables.Tables.orders(spark, sf).select(col("o_custkey"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    assert(anti.count() + semi.count() == c.count())
  }

  test("q07 snapshot delta only emits positive diffs") {
    import org.apache.spark.sql.functions._
    val d = ops.Relational.q07SnapshotDelta(spark, sf)
    assert(d.filter(col("qty_diff") <= 0).count() == 0)
  }

  test("q16 merge preserves target cardinality (1:1 upsert)") {
    val merged = ops.Relational.q16MergeUpsert(spark, sf)
    val target = graft.tables.Tables.orders(spark, sf)
    assert(merged.count() == target.count())
  }

  test("t01 exact dedup groups cover all documents") {
    import org.apache.spark.sql.functions._
    val d = ext.TextOps.t01DedupExact(spark, sf)
    val total = d.agg(sum(col("n_copies"))).head.getLong(0)
    assert(total == graft.tables.Tables.documents(spark, sf).count())
  }

  test("t07 LSH pairs are ordered and deduped") {
    import org.apache.spark.sql.functions._
    val p = ext.TextOps.t07LshPairs(spark, sf)
    assert(p.filter(col("a") >= col("b")).count() == 0)
    assert(p.select("a", "b").distinct().count() == p.count())
  }

  test("e02 brute-force top-k: 10 neighbors per query, cosine in [-1,1]") {
    import org.apache.spark.sql.functions._
    val k = ext.SimilarityOps.e02CosineTopK(spark, sf)
    val perQ = k.groupBy("qid").count().select(min("count")).head.getLong(0)
    assert(perQ == 10)
    assert(k.filter(col("cos_r") > 1.0 || col("cos_r") < -1.0).count() == 0)
  }

  test("e04 bucketed ANN is a subset-ranking of e02 candidates' bucket") {
    val bucketed = ext.SimilarityOps.e04AnnBucketed(spark, sf)
    assert(bucketed.count() > 0)
  }

  test("e06 IVF ANN: 10 results per query with recall vs brute force") {
    val ivf = ext.SimilarityOps.e06AnnIvf(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bf = ext.SimilarityOps.e02CosineTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.groupBy(_._1).forall(_._2.length == 10))
    val recall = ivf.toSet.intersect(bf.toSet).size.toDouble / bf.length
    // uniform random vectors cluster weakly; probing 2/16 cells must still
    // beat the random-subset baseline (2/16 = 0.125)
    assert(recall > 0.125, s"recall@10 = $recall")
  }

  test("s02 sessionize: session count never exceeds event count") {
    import org.apache.spark.sql.functions._
    val s2 = ext.EventOps.s02Sessionize(spark, sf)
    assert(s2.filter(col("n_sessions") > col("n_events")).count() == 0)
  }

  test("s11 gap-fill: each user's calendar is dense over its span and " +
    "event counts are conserved") {
    import org.apache.spark.sql.functions._
    val r = ext.EventOps.s11GapFill(spark, sf)
    val perUser = r.groupBy(col("user_id"))
      .agg(count(lit(1)).as("days"),
        (max(col("day")) - min(col("day")) + 1).as("span"),
        sum(col("n_events")).as("n"))
    assert(perUser.filter(col("days") =!= col("span")).count() == 0)
    val total = tables.Tables.events(spark, sf).count()
    assert(perUser.agg(sum(col("n"))).head().getLong(0) == total)
    // once a user has an observed value, carry-forward never reverts to null
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    val reverted = r
      .withColumn("seen",
        sum(when(col("day_value").isNotNull, 1).otherwise(0)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .filter(col("seen") > 0 && col("carried_value").isNull)
    assert(reverted.count() == 0)
  }

  test("sign-LSH bucket bits refine: b+1-bit buckets partition b-bit " +
    "buckets, so candidate sets only shrink as bits grow") {
    import org.apache.spark.sql.functions._
    val e = tables.Tables.embeddings(spark, sf)
    val b = e.select(col("vec_id"),
      ext.SimilarityOps.signBucketOf(4).as("b4"),
      ext.SimilarityOps.signBucketOf(5).as("b5"),
      ext.SimilarityOps.signBucketOf(8).as("b8"))
    // refinement: dropping the low bit(s) recovers the coarser bucket
    assert(b.filter(expr("b5 div 2") =!= col("b4")).count() == 0)
    assert(b.filter(expr("b8 div 16") =!= col("b4")).count() == 0)
    // the widened (>8-bit) range appends low bits the same way
    val wide = tables.Tables.embeddings(spark, sf).select(
      ext.SimilarityOps.signBucketOf(8).as("w8"),
      ext.SimilarityOps.signBucketOf(12).as("w12"),
      ext.SimilarityOps.signBucketOf(16).as("w16"))
    assert(wide.filter(expr("w12 div 16") =!= col("w8")).count() == 0)
    assert(wide.filter(expr("w16 div 16") =!= col("w12")).count() == 0)
    // therefore same-bucket candidate pairs at 8 bits ⊆ pairs at 4 bits
    def pairs(c: String) = b.select(col(c).as("k"), col("vec_id").as("a"))
      .join(b.select(col(c).as("k"), col("vec_id").as("b")), "k")
      .filter(col("a") < col("b")).select("a", "b")
    assert(pairs("b8").exceptAll(pairs("b4")).count() == 0)
  }

  test("adaptiveBits holds mean bucket occupancy in (16,32], clamped to [4,16]") {
    import ext.SimilarityOps.adaptiveBits
    // the small-SF corpora (n=500) stay on the original 4-bit layout
    assert(adaptiveBits(1) == 4 && adaptiveBits(500) == 4 &&
      adaptiveBits(512) == 4)
    // one extra bit per corpus doubling: sf0.1 (2000) and the 10x
    // replica (20000) land on 6 and 10 bits
    assert(adaptiveBits(513) == 5 && adaptiveBits(2000) == 6 &&
      adaptiveBits(20000) == 10)
    assert(adaptiveBits(32L << 16) == 16 &&
      adaptiveBits(Long.MaxValue / 4) == 16)
    // inside the clamp ceiling (n <= 32*2^16); beyond it occupancy
    // legitimately exceeds 32 — the 16-bit cap is the refinement-safe
    // maximum of the current interleave layout
    for (n <- Seq(100L, 513L, 5000L, 123457L, 1999999L)) {
      val b = adaptiveBits(n)
      assert(n.toDouble / (1L << b) <= 32.0) // occupancy never above 32
      if (b > 4) // narrower would overflow (no gratuitous widening)
        assert(n.toDouble / (1L << (b - 1)) > 32.0)
    }
  }

  test("t60 incremental ingest: exact beats near beats new; decisions match the t06 band algebra") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (id: Long, text: String) => (id, text, text.length.toLong)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      mk(1L, base), // corpus
      mk(2L, "completely different content about spark and parquet files"),
      mk(4L, base), // incoming: exact copy of doc 1
      mk(8L, base.dropRight(5) + "tiger"), // incoming: 1-word variant
      mk(12L, "zzzzz yyyyy xxxxx wwwww vvvvv uuuuu ttttt sssss rrrrr"))
      .toDF("doc_id", "text", "n_chars")
    val got = ext.TextOps.incrementalIngestOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(4L, 8L, 12L))
    assert(got(4L) == "exact") // identical text, regardless of bands
    // doc 8's decision must agree with the independent t06 band algebra:
    // near iff it shares a band bucket with a corpus doc
    val sig = ext.TextOps.minhashSigOf(docs)
      .select(col("doc_id"), col("band0"), col("band1")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    def collides(i: Long) = Seq(1L, 2L).exists(c =>
      sig(i)._1 == sig(c)._1 || sig(i)._2 == sig(c)._2)
    assert(got(8L) == (if (collides(8L)) "near" else "new"))
    assert(got(12L) == (if (collides(12L)) "near" else "new"))
    // the unrelated doc must not accidentally collide (sanity on the data)
    assert(!collides(12L) && got(12L) == "new")
  }

  test("e35 bits curve: candidate volume AND recall both non-increasing in width (refinement)") {
    val r = ext.SimilarityOps.e35BitsCurve(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.map(_._1).toSeq == Seq(4L, 8L, 12L))
    r.sliding(2).foreach { case Array(narrowBits, wideBits) =>
      // wider buckets partition narrower ones (the refinement property),
      // so both the pair volume and the truth-edge hits can only shrink
      assert(wideBits._2 <= narrowBits._2, "volume must shrink with bits")
      assert(wideBits._4 <= narrowBits._4, "hits must shrink with bits")
    }
    // truth-edge count is width-independent (same sample, same top-5)
    assert(r.map(_._3).distinct.length == 1)
  }

  test("e16 kNN graph: <=5 ranked neighbors per vector, ranks contiguous, " +
    "cosine non-increasing in rank") {
    import org.apache.spark.sql.functions._
    val g = ext.SimilarityOps.e16KnnGraph(spark, sf)
    val per = g.groupBy(col("a"))
      .agg(count(lit(1)).as("n"), max(col("rnk")).as("rmax"))
    assert(per.filter(col("n") > 5 || col("rmax") =!= col("n")).count() == 0)
    // rank order respects cosine: no (rnk, rnk+1) inversion
    val nxt = g.select(col("a"), (col("rnk") - 1).as("rnk"),
      col("cos_r").as("next_cos"))
    assert(g.join(nxt, Seq("a", "rnk"))
      .filter(col("next_cos") > col("cos_r")).count() == 0)
  }

  test("q49 incremental view maintenance equals direct recompute") {
    import org.apache.spark.sql.functions._
    val merged = ops.Relational2.q49ViewMaintenance(spark, sf)
    val direct = tables.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(30,2)")).cast("double")
          .as("total_spend"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
    assert(merged.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(merged).count() == 0)
  }

  test("q48 SCD2: exactly one current version per customer, versions " +
    "contiguous, intervals chain") {
    import org.apache.spark.sql.functions._
    val r = ops.Relational2.q48Scd2(spark, sf)
    val byCust = r.groupBy(col("o_custkey"))
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"),
        count(lit(1)).as("n"), max(col("version")).as("vmax"))
    assert(byCust.filter(col("cur") =!= 1).count() == 0)
    assert(byCust.filter(col("vmax") =!= col("n")).count() == 0)
    // half-open chaining: version v's valid_to = version v+1's valid_from
    val next = r.select(col("o_custkey"), (col("version") - 1).as("version"),
      col("valid_from").as("next_from"))
    val broken = r.join(next, Seq("o_custkey", "version"))
      .filter(col("valid_to") =!= col("next_from"))
    assert(broken.count() == 0)
  }
}
