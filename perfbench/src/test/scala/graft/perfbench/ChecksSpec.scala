package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Packing}

/** Every output check passes on the right expectation and fails on a
  * deliberately wrong one — a check that cannot fail proves nothing. */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "target/test-warehouse")
    .getOrCreate()
  import spark.implicits._

  test("sameTables: fingerprints match in any row order; a changed or lost row fails") {
    val hub = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "v")
    val sat = Seq((1L, 0.5)).toDF("k", "x")
    val actual = Seq("HUB" -> hub, "SAT" -> sat)
    assert(Checks.sameTables(actual, Seq("HUB" -> hub.orderBy(desc("k")), "SAT" -> sat)).isEmpty)
    val changed = Seq((1L, "a"), (2L, "b"), (2L, "c")).toDF("k", "v")
    assert(Checks.sameTables(actual, Seq("HUB" -> changed, "SAT" -> sat)) ===
      Seq("HUB: 3 rows, expected 3 (contents differ)"))
    assert(Checks.sameTables(actual, Seq("HUB" -> hub, "SAT" -> sat.limit(0))) ===
      Seq("SAT: 1 rows, expected 0"))
  }

  test("zeroAppend: unchanged counts pass; any grown table fails and is named") {
    val before = Map("HUB" -> 10L, "SAT" -> 20L)
    assert(Checks.zeroAppend("replay", before, before).isEmpty)
    val msg = Checks.zeroAppend("replay", before, before.updated("SAT", 21L))
    assert(msg.exists(m => m.contains("SAT (20 -> 21)") && !m.contains("HUB")))
  }

  test("equal, atLeast and disjoint fail on a wrong expectation") {
    assert(Checks.equal("digest", "abc", "abc").isEmpty)
    assert(Checks.equal("digest", "abc", "abd").isDefined)
    assert(Checks.atLeast("recall@10", 0.3, 0.15).isEmpty)
    assert(Checks.atLeast("recall@10", 0.1, 0.15).isDefined)
    assert(Checks.disjoint("deleted", Set(1L, 2L), Set(3L)).isEmpty)
    assert(Checks.disjoint("deleted", Set(1L, 2L), Set(2L)).exists(_.contains("1 ids")))
  }

  test("subset and empty fail when a row falls outside or a pair survives") {
    val gated = Seq(1L, 2L, 3L).toDF("doc_id")
    assert(Checks.subset("survivors", Seq(1L, 3L).toDF("doc_id"), gated, "doc_id").isEmpty)
    assert(Checks.subset("survivors", Seq(1L, 4L).toDF("doc_id"), gated, "doc_id").isDefined)
    val docs = Seq((1L, "a b c d", 7L), (2L, "a b c d", 7L), (3L, "x y z w", 7L))
      .toDF("doc_id", "text", "n_chars")
    assert(Checks.empty("pairs", Dedup.jaccardPairs(docs.filter(col("doc_id") =!= 2L),
      "text", "doc_id", "n_chars", 0.8)).isEmpty)
    assert(Checks.empty("pairs", Dedup.jaccardPairs(docs, "text", "doc_id", "n_chars", 0.8))
      .isDefined)
  }

  test("the packing reference matches packSequences; a wrong one does not") {
    val docs = Seq((3L, "a b c"), (1L, "d e f g h"), (2L, ""), (4L, "i j"))
    val df = docs.toDF("doc_id", "text")
    val spark4 = Packing.packSequences(df, "doc_id", "text", 4)
      .select("doc_id", "n_tokens", "start_offset", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (a, b, c, d, e) => Seq(a, b, c, d, e) }.toSeq
    assert(Reference.digest(spark4) === Reference.digest(Reference.pack(docs, 4)))
    assert(Reference.digest(spark4) !== Reference.digest(Reference.pack(docs, 5)))
  }

  test("a failed op ranks as +inf and pushes percentiles up") {
    val log = new OpLog
    log.add("probe", 1.0)
    log.add("probe", 2.0)
    assert(!log.run("probe")(throw new IllegalStateException("boom")))
    assert(log.failed === 1 && log.attempted === 3)
    assert(log.ops.last.error.exists(_.contains("IllegalStateException: boom")))
    assert(Stats.median(log.latencies(Set("probe"))) === 2.0)
    assert(Stats.percentile(log.latencies(Set("probe")), 90).isPosInfinity)
  }

  test("self time subtracts child spans; the job union merges overlaps") {
    val spans = Seq(Span(1, "bench.pass", 0, 1, 0, 1000), Span(2, "text.gate", 1, 1, 100, 400),
      Span(3, "dedup.exact", 1, 1, 400, 900))
    val self = Layers.self(spans)
    assert(math.abs(self(1) - 0.2) < 1e-9 && math.abs(self(2) - 0.3) < 1e-9)
    assert(Layers.union(Seq((0.0, 10.0), (5.0, 20.0), (30.0, 40.0))) === 30.0)
  }
}
