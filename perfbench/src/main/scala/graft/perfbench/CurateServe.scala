package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Curate a corpus, then serve it. Set-up runs one [[CurationBatch]]
  * pass, builds a MinHash band index over the surviving documents and an
  * IVF vector index over `Copies` copies of the embeddings rotated by
  * seeded distinct offsets (about 6k vectors); a seeded twentieth of the
  * vectors and quarter of the documents is held out of the builds and
  * feeds the query draws and the appends. The timed loop runs whole
  * cycles of a fixed six-op mix: an IVF probe, a band probe, an append
  * to one index, then the same again with the other index's append.
  * Once, at the midpoint of the shortest run, rows the probes have
  * ranked first are deleted from the IVF index and the index is
  * compacted. A write invalidates the cached serving identity, so the
  * probe after it pays its guard jobs again. Neither the vault nor the
  * streaming layer is called. */
final class CurateServe(ctx: Ctx) extends Workload {
  import ctx._

  val primary = Set("probe_ivf", "probe_band")
  val batch = Set("append_ivf", "append_band")
  private val curation = new CurationBatch(ctx)
  private val Copies = 3
  private val Dim = 64
  private val K = 10
  private val Probes = 2
  private val QueryBatch = 10
  private val DocBatch = 50
  private val AppendBatch = 20
  private val RecallQueries = 50
  private val PlantedBase = 900000000L
  private val Cycle = 6
  private val MinCycles = 5
  private val WarmCycles = 1
  private val DeleteAt = Cycle * (MinCycles / 2)

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private final class State(val ivf: String, val band: String, val cents: DataFrame,
      val queryPool: IndexedSeq[(Long, Array[Float])],
      val vecAppends: IndexedSeq[(Long, Array[Float])],
      val docProbes: IndexedSeq[(Long, String)],
      val docAppends: IndexedSeq[(Long, String)]) {
    val r = rnd(5)
    var ops = 0
    var vecAppended = 0
    var docAppended = 0
    var deletedAt = -1
    val firstNeighbors = scala.collection.mutable.LinkedHashSet.empty[Long]
    var deleted = Set.empty[Long]
    val seenAfterDelete = scala.collection.mutable.Set.empty[Long]
    val plantedVecs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Long)]
    val plantedDocs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
  }
  private var st: State = _
  private var recall = Double.NaN

  private def vecFrame(rows: Seq[(Long, Array[Float])]): DataFrame =
    Similarity.withNorm(spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, 1), vecSchema), "vec_id", "embedding")

  private def docFrame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => Row(id, t) }, 1), docSchema)

  def prepare(): Unit = {
    curation.prepare()
    curation.run()
    val root = dir("index")
    val db = "pb_idx"
    spark.sql(s"CREATE DATABASE $db LOCATION '$root/db'")
    val r = rnd(4)
    val rotations = r.shuffle((0 until Dim).toList).take(Copies)
    val salt = r.nextInt()
    def rotate(k: Int) =
      if (k == 0) col("embedding")
      else concat(slice(col("embedding"), k + 1, Dim - k), slice(col("embedding"), 1, k))
    val raw = Tables.embeddings(spark, dataDir)
    rotations.zipWithIndex.map { case (k, i) =>
      raw.withColumn("vec_id", col("vec_id") + i * 100000L).withColumn("embedding", rotate(k))
        .select("vec_id", "embedding")
    }.reduce(_ unionByName _).repartition(4).write.mode("overwrite").parquet(s"$root/vectors")
    val vecs = spark.read.parquet(s"$root/vectors")
    val held = pmod(xxhash64(col("vec_id"), lit(salt)), lit(20)) === 0
    val heldVecs = vecs.filter(held).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toIndexedSeq
    val (queryPool, vecAppends) = r.shuffle(heldVecs).splitAt(heldVecs.size / 2)
    val base = Similarity.withNorm(vecs.filter(!held), "vec_id", "embedding")
    val cents = base.filter(col("vec_id") < 100000L && col("vec_id") % 50 === 0)
      .orderBy("vec_id").limit(20).localCheckpoint(true)
    val ivf = s"$db.ivf"
    tracer.span("similarity.ivf_build") {
      Similarity.buildIvfIndex(Similarity.assignToCentroids(base, cents, "vec_id"), ivf,
        buckets = 4)
    }

    val docs = curation.survivors.select("doc_id", "text")
    val heldDoc = pmod(xxhash64(col("doc_id"), lit(salt)), lit(4)) === 0
    val heldDocs = docs.filter(heldDoc).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toIndexedSeq
    val (docProbes, docAppends) = r.shuffle(heldDocs).splitAt(heldDocs.size / 2)
    val band = s"$db.band"
    tracer.span("dedup.band_build") {
      Dedup.buildBandIndex(docs.filter(!heldDoc), "text", "doc_id", band, buckets = 4)
    }
    st = new State(ivf, band, cents, queryPool, vecAppends, docProbes, docAppends)
    recall = Double.NaN
  }

  private def probeIvf(queries: Seq[(Long, Array[Float])]): Array[Row] =
    tracer.span("similarity.ivf_probe") {
      Similarity.probeIvfIndexExternal(spark, st.ivf, vecFrame(queries), st.cents,
        "vec_id", K, probes = Probes).select("qid", "neighbor_id", "rank").collect()
    }

  private def probeBand(docs: Seq[(Long, String)]): Array[Row] =
    tracer.span("dedup.band_probe") {
      Dedup.probeBandIndex(spark, st.band, docFrame(docs), "text", "doc_id").collect()
    }

  private def draw[T](pool: IndexedSeq[T], n: Int): Seq[T] =
    Seq.fill(n)(pool(st.r.nextInt(pool.size)))

  /** The append batches come in order off the held-out pools; each
    * plants near-duplicates of two appended rows (a scaled copy of a
    * vector, a copy of a document under a new id), probed at the end. */
  private def appendIvf(): Unit = {
    val batch = st.vecAppends.slice(st.vecAppended, st.vecAppended + AppendBatch)
    st.vecAppended += batch.size
    tracer.span("similarity.ivf_append") {
      Similarity.appendToIvfIndex(vecFrame(batch), st.ivf, st.cents, "vec_id", buckets = 4)
    }
    batch.take(2).foreach { case (id, v) =>
      st.plantedVecs += ((PlantedBase + st.plantedVecs.size, v.map(_ * 1.001f), id))
    }
  }

  private def appendBand(): Unit = {
    val batch = st.docAppends.slice(st.docAppended, st.docAppended + AppendBatch)
    st.docAppended += batch.size
    tracer.span("dedup.band_append") {
      Dedup.appendToBandIndex(docFrame(batch), st.band, "text", "doc_id", buckets = 4)
    }
    // a copy under a new id shares every band with its origin; an
    // edited copy would miss all three bands of the k=6 signature too
    // often for a check that must not fail by chance
    batch.take(2).foreach { case (id, t) =>
      st.plantedDocs += ((PlantedBase + st.plantedDocs.size, t, id))
    }
  }

  /** Delete rows earlier probes ranked first (appended rows excluded,
    * their planted near-duplicates must still find them) and compact. */
  private def deleteAndCompact(log: OpLog): Unit = {
    val appended = st.vecAppends.take(st.vecAppended).map(_._1).toSet
    st.deleted = st.firstNeighbors.filterNot(appended).take(20).toSet
    st.deletedAt = st.ops
    tracer.op += 1
    log.run("delete")(tracer.span("similarity.ivf_delete") {
      Similarity.deleteFromIndex(spark, st.ivf,
        spark.createDataFrame(st.deleted.toSeq.map(Tuple1(_))).toDF("vec_id"), "vec_id")
    })
    tracer.op += 1
    log.run("compact")(tracer.span("similarity.ivf_compact") {
      Similarity.compactIvfIndex(spark, st.ivf)
    })
  }

  /** The op at position `i` of the fixed mix, which repeats every
    * `Cycle` ops: IVF probe, band probe, IVF append, IVF probe, band
    * probe, band append. */
  private def op(i: Int, log: OpLog): Unit = {
    tracer.op += 1
    if (i % Cycle == 2) log.run("append_ivf")(tracer.span("bench.append")(appendIvf()))
    else if (i % Cycle == 5) log.run("append_band")(tracer.span("bench.append")(appendBand()))
    else if (i % 3 == 0) {
      val queries = draw(st.queryPool, QueryBatch)
      log.run("probe_ivf") {
        val rows = tracer.span("bench.probe")(probeIvf(queries))
        rows.filter(_.getInt(2) == 1).foreach(r => st.firstNeighbors += r.getLong(1))
        if (st.deletedAt >= 0) rows.foreach(r => st.seenAfterDelete += r.getLong(1))
      }
    } else {
      val docs = draw(st.docProbes, DocBatch)
      log.run("probe_band")(tracer.span("bench.probe")(probeBand(docs)))
    }
  }

  /** `WarmCycles` cycles of the mix, untimed. */
  def warmUp(): Unit = {
    require(st.vecAppends.size.min(st.docAppends.size) >=
      AppendBatch * (WarmCycles + MinCycles),
      s"held-out append pools (${st.vecAppends.size} vectors, ${st.docAppends.size} " +
        "documents) too small for the shortest run")
    val log = new OpLog
    (0 until WarmCycles * Cycle).foreach(i => op(i, log))
    require(log.failed == 0, s"warm-up failed: ${log.ops.flatMap(_.error).mkString("; ")}")
  }

  private def appendsLeft: Boolean =
    st.vecAppended + AppendBatch <= st.vecAppends.size &&
      st.docAppended + AppendBatch <= st.docAppends.size

  /** Whole cycles until the deadline, never fewer than `MinCycles` and
    * never past the held-out append pools: every op kind's median rests
    * on a sample count fixed by the mix, not by how fast the host runs.
    * The delete and compaction come between cycles, so IVF probes follow
    * them in every run. */
  def timed(deadlineNs: Long, log: OpLog): Unit =
    while ((System.nanoTime() < deadlineNs || st.ops < MinCycles * Cycle) && appendsLeft) {
      if (st.ops == DeleteAt) deleteAndCompact(log)
      (0 until Cycle).foreach { _ =>
        op(st.ops, log)
        st.ops += 1
      }
    }

  /** The curation checks; recall@K of the IVF probe against brute force
    * over the live rows, no deleted id served after its delete, and
    * every planted near-duplicate finds the appended row it copies. */
  def check(log: OpLog): Seq[String] = curation.check() ++ {
    val queries = st.queryPool.take(RecallQueries)
    val got = probeIvf(queries).map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = spark.table(st.ivf).join(
      Similarity.pendingDeletes(spark, st.ivf, "vec_id"), Seq("vec_id"), "left_anti")
    val truth = Similarity.knnBrute(live, vecFrame(queries), "vec_id", K)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recall = got.intersect(truth).size.toDouble / (queries.size * K)
    val vecHits = probeIvf(st.plantedVecs.map(p => p._1 -> p._2).toSeq)
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docHits = probeBand(st.plantedDocs.map(p => p._1 -> p._2).toSeq)
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    (Seq(
      Checks.atLeast("recall@10", recall, CurateServe.RecallFloor),
      Checks.atLeast("deletes", st.deleted.size, 1),
      Checks.disjoint("IVF probes after the delete", st.seenAfterDelete.toSet, st.deleted),
      Checks.atLeast("planted near-duplicates", st.plantedVecs.size + st.plantedDocs.size, 2)) ++
      st.plantedVecs.map { case (q, _, origin) =>
        Checks.equal(s"nearest neighbor of planted vector $q", vecHits.get(q), Some(origin)) } ++
      st.plantedDocs.map { case (q, _, origin) =>
        Checks.equal(s"band match of planted document $q", docHits((q, origin)), true) }
    ).flatten
  }

  override def ratios: Seq[(String, Double, String)] =
    curation.ratios :+ (("similarity.recall_at_10", recall, "fraction"))
}

object CurateServe {
  /** recall@10 floor for 2-probe IVF over 20 id-sampled centroids on the
    * fixture's isotropic embeddings (about 0.3 measured). */
  val RecallFloor = 0.15
}
