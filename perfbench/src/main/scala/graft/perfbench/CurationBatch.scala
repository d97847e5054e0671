package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
import graft.plans.PlanWalk
import graft.sources.Tables

/** Batch corpus curation: quality gate, exact dedup, blocked Jaccard
  * pairs, MinHash-LSH candidates, embedding near-dups, dropping the
  * dominated documents, per-source quota sampling and sequence packing
  * — every stage materialized before the next reads it.
  *
  * Input: the documents with their letters caesar-shifted by a seeded
  * amount (lengths, and so the `n_chars` Jaccard blocks, are kept) and
  * the embeddings rotated by a seeded offset. */
final class CurationBatch(ctx: Ctx) {
  import ctx._

  private val Threshold = 0.8
  private val MinTokens = 12
  private val QuotaPerSource = 100
  private val SeqLen = 2048
  private val EmbeddingDim = 64

  private var docsPath: String = _
  private var vecsPath: String = _
  private var last: Map[String, DataFrame] = Map.empty
  private val joinRows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val pairs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  def prepare(): Unit = {
    val root = dir("curation")
    val r = rnd(3)
    val shift = 1 + r.nextInt(25)
    val rotation = 1 + r.nextInt(EmbeddingDim - 1)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    docsPath = s"$root/documents"
    vecsPath = s"$root/embeddings"
    Tables.documents(spark, dataDir)
      .withColumn("text", translate(col("text"), lower, lower.drop(shift) + lower.take(shift)))
      .repartition(4).write.mode("overwrite").parquet(docsPath)
    Tables.embeddings(spark, dataDir)
      .withColumn("embedding", concat(slice(col("embedding"), rotation + 1, EmbeddingDim - rotation),
        slice(col("embedding"), 1, rotation)))
      .repartition(4).write.mode("overwrite").parquet(vecsPath)
  }

  /** Summed output rows of the join nodes in `df`'s executed plan: the
    * candidate pairs the join produced before any verification. */
  private def joinOutputRows(df: DataFrame): Long =
    PlanWalk.flatten(df.queryExecution.executedPlan, intoReusedExchange = false)
      .collect { case j: BaseJoinExec => j.metrics.get("numOutputRows") }
      .flatten.distinctBy(_.id).map(_.value).sum

  /** Run the stage, materialize its output, and for pair stages record
    * the join's candidate rows and the pairs kept. */
  private def stage(name: String, countPairs: Boolean = false)(df: => DataFrame): DataFrame =
    tracer.span(name) {
      val plan = df
      val out = materialize(plan)
      if (countPairs) {
        joinRows(name) += joinOutputRows(plan)
        pairs(name) += out.count()
      }
      out
    }

  /** One pass over the prepared inputs. */
  def run(): Unit = {
    val docs = spark.read.parquet(docsPath)
    val gated = stage("text.gate") {
      TextAnalysis.qualitySignals(docs, "text").filter(col("n_tokens") >= MinTokens)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    val exact = stage("dedup.exact")(Dedup.dropExactDuplicates(gated, "text", "doc_id"))
    val jaccard = stage("dedup.jaccard", countPairs = true) {
      Dedup.jaccardPairs(exact, "text", "doc_id", "n_chars", Threshold)
    }
    val minhash = stage("dedup.minhash", countPairs = true) {
      Dedup.lshCandidatePairs(exact, "text", "doc_id")
    }
    val nearDup = stage("similarity.neardup") {
      val base = Similarity.withNorm(spark.read.parquet(vecsPath), "vec_id", "embedding")
      val cents = base.filter(col("vec_id") % 50 === 0).orderBy("vec_id").limit(20)
      Similarity.nearDupPairs(Similarity.assignToCentroids(base, cents, "vec_id"),
        "vec_id", threshold = 0.4)
    }
    val survivors = stage("dedup.drop") {
      val dominated = jaccard.select(col("b_id").as("doc_id"))
        .union(minhash.select(col("b_id").as("doc_id")))
      exact.join(dominated, Seq("doc_id"), "left_anti")
    }
    val sampled = stage("sampling.quota") {
      Sampling.quotaPerGroup(survivors, "doc_id", "source", QuotaPerSource)
    }
    val packed = stage("packing.pack") {
      Packing.packSequences(sampled, "doc_id", "text", SeqLen)
    }
    last = Map("gated" -> gated, "survivors" -> survivors, "sampled" -> sampled,
      "packed" -> packed, "neardup" -> nearDup)
  }

  private def packedDigest(packed: DataFrame): String =
    Reference.digest(packed.select("doc_id", "n_tokens", "start_offset", "first_seq", "last_seq")
      .collect().map(r => (0 until 5).map(r.getLong).toSeq).toSeq)

  /** The documents that survived the pass: gated, deduplicated. */
  def survivors: DataFrame = last("survivors")

  /** The packed output equals an independent packing of the collected
    * sampled documents, survivors come from the gated input, and no two
    * survivors are near-duplicates. */
  def check(): Seq[String] = {
    val sampled = last("sampled").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val expected = Reference.digest(Reference.pack(sampled, SeqLen))
    val survivors = last("survivors")
    Seq(Checks.equal("packed digest", packedDigest(last("packed")), expected),
      Checks.subset("survivors", survivors, last("gated"), "doc_id"),
      Checks.empty("surviving pairs above the Jaccard threshold",
        Dedup.jaccardPairs(survivors, "text", "doc_id", "n_chars", Threshold)),
      Checks.atLeast("sampled documents", sampled.size, 1),
      Checks.atLeast("embedding near-dup pairs", last("neardup").count(), 1)).flatten
  }

  def ratios: Seq[(String, Double, String)] =
    Seq("dedup.jaccard", "dedup.minhash").flatMap { s =>
      Seq((s"$s.join_rows", joinRows(s).toDouble, "count"),
        (s"$s.yield", pairs(s).toDouble / math.max(1L, joinRows(s)), "ratio"))
    }
}

/** References the checks compare against, computed outside Spark. */
object Reference {
  /** Whitespace-token packing in id order: (id, n_tokens, start_offset,
    * first_seq, last_seq), a zero-length doc landing at its start. */
  def pack(docs: Seq[(Long, String)], seqLen: Int): Seq[Seq[Long]] = {
    var offset = 0L
    docs.sortBy(_._1).map { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      val row = Seq(id, n, offset, offset / seqLen, math.max(offset + n - 1, offset) / seqLen)
      offset += n
      row
    }
  }

  /** Order-independent md5 of a row set. */
  def digest(rows: Seq[Seq[Long]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.mkString(",")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
