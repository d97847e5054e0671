package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.streaming.CdcStream
import graft.vault._

/** Streamed CDC deliveries into the raw vault, each followed by a
  * business-vault and curated refresh.
  *
  * Input: the events table cut at seeded timestamps into about 36 slices
  * of about 2.8k rows, each written as one parquet file; four slices are
  * delivered a second time shortly after their first delivery
  * (at-least-once delivery). A delivery copies its file into the feed
  * directory and runs the file stream (`maxFilesPerTrigger=1`,
  * `AvailableNow`) through `CdcStream.foreachBatchLoader`; the body
  * stages the batch once, loads the satellite, the hub with its
  * effectivity satellite, and reconciles the purchase/error link feed.
  * The delivery's latency is the micro-batch's `triggerExecution`. */
final class VaultCdc(ctx: Ctx) extends Workload {
  import ctx._
  private implicit val c: Conventions = Conventions.default

  val primary = Set("delivery")
  val batch = Set("refresh")
  private val Slices = 36
  private val Replays = 4
  private val WarmDeliveries = 2
  private val MinTimed = 5
  private val Entity = "USERS"
  private val LinkEntity = "USERS__EVENT_TYPE"
  private val clock = lit(Timestamp.valueOf("2026-01-01 00:00:00"))
  private val satDef = SatelliteDefinition(c.satName(Entity), Seq(
    ColumnDefinition("event_type", StringType),
    ColumnDefinition("props", StringType),
    ColumnDefinition("value", DoubleType),
    ColumnDefinition("retired", IntegerType)))
  private val fields = Seq(
    FieldDefinition(Entity, "user_id"),
    FieldDefinition(Entity, "event_type", isTypelist = true,
      typelistTableName = Some("event_type")),
    FieldDefinition(Entity, "props", Some("properties")),
    FieldDefinition(Entity, "value"))

  /** One delivery: the slice it carries and its source file. */
  final case class Delivery(slice: Int, replay: Boolean, file: File)

  private final class State(val root: String, val rawDb: String,
      val vault: RawVault, val business: BusinessVault, val curated: Curated,
      val deliveries: IndexedSeq[Delivery], val rawSchema: StructType) {
    val feed: String = s"$root/feed"
    val checkpoint: String = s"$root/checkpoint"
    var next = 0
    var stagedRows = 0L
    var rowsBefore = Map.empty[String, Long]
    val replayChecks = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    def table(name: String): DataFrame = spark.table(s"$rawDb.`$name`")
  }
  private var st: State = _

  private def hubTable = c.hubName(Entity)
  private def satTable = c.satName(Entity)
  private def effTable = c.effectivitySatName(Entity)
  private def linkTable = c.linkName(LinkEntity)
  private def linkEffTable = c.effectivitySatName(LinkEntity)
  private def vaultTables = Seq(hubTable, satTable, effTable, linkTable, linkEffTable)

  // ---- inputs ----

  private def loadDate: Column = date_trunc("MILLISECOND", col("ts"))

  /** Seeded slice boundaries on load-date values, evenly spaced over
    * the feed's time range within +-30 % of a step: a (user, ms) group
    * is never split. */
  private def cuts(events: DataFrame): IndexedSeq[Long] = {
    val b = events.agg(min(unix_micros(loadDate)), max(unix_micros(loadDate))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val r = rnd(1)
    val step = (hi - lo).toDouble / Slices
    (1 until Slices).map(i => lo + ((i + (r.nextDouble() - 0.5) * 0.6) * step).toLong)
  }

  /** Slice order with four redeliveries: slice 0 again right after
    * slice 1, inside every run's timed window, then three seeded slices
    * one or two deliveries after their originals. */
  private def order(n: Int): IndexedSeq[(Int, Boolean)] = {
    val r = rnd(2)
    val at = (Seq(0 -> 1) ++ r.shuffle((2 to 9).toList).take(Replays - 1)
      .map(s => s -> (s + 1 + r.nextInt(2)))).toMap
    val seq = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    (0 until n).foreach { s =>
      seq += s -> false
      at.collect { case (orig, after) if after == s => orig }.toSeq.sorted
        .foreach(orig => seq += orig -> true)
    }
    seq.toIndexedSeq
  }

  def prepare(): Unit = {
    val root = dir("vault")
    val raw = Tables.eventsRaw(spark, dataDir)
    val events = Tables.normalizeTs(raw)
    val cutMicros = cuts(events)
    val sliceCol = cutMicros.map(cm => when(unix_micros(loadDate) >= cm, 1).otherwise(0))
      .reduce(_ + _)
    // one job writes every slice: slice s lands in slices/s=<s>/ as one
    // file in the raw (on-disk) schema the stream reads
    raw.join(events.select(col("event_id"), sliceCol.as("s")), "event_id")
      .repartition(col("s")).write.partitionBy("s").parquet(s"$root/slices")
    val files = (0 until cutMicros.size + 1).map { s =>
      new File(s"$root/slices/s=$s").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    }
    val deliveries = order(files.size).map { case (s, replay) => Delivery(s, replay, files(s)) }

    val rawDb = "pb_raw"
    val config = RawVaultConfig(
      stagingBasePath = s"$root/staging",
      stagingPreparedDatabase = "pb_stg",
      rawDatabase = rawDb,
      optimizePartitioning = false,
      stagingPreparedBasePath = Some(s"$root/stg.db"),
      rawBasePath = Some(s"$root/raw.db"))
    val vault = new RawVault(spark, config, "events", clock)
    vault.initializeDatabase()
    vault.createHub(Entity, Seq(ColumnDefinition("user_id", LongType)))
    vault.createSatellite(Entity, satDef.attributes)
    vault.createLink(LinkEntity, Seq("FROM_HKEY", "TO_HKEY"))
    val business = new BusinessVault(spark, rawDb)
    loadCuratedLookups(vault, business, config.stagingBasePath)
    val curated = new Curated(spark, business,
      TypelistsConfig(spark.table(s"$rawDb.`REF__TYPELISTS_ACTIVE`")),
      "pb_cur", rawDb, Some(s"$root/cur.db"))
    curated.initializeDatabase()
    st = new State(root, rawDb, vault, business, curated, deliveries, raw.schema)
    new File(st.feed).mkdirs()
  }

  /** The lookups the curated view resolves against: the event-type
    * typelist (loaded through the code-reference loader) and the
    * USER/CREDENTIAL entities the user enrichment reads, left empty —
    * the curated fields carry no user ids. */
  private def loadCuratedLookups(vault: RawVault, business: BusinessVault,
      staging: String): Unit = {
    Seq("USER" -> Seq(ColumnDefinition("ID", IntegerType)),
      "CREDENTIAL" -> Seq(ColumnDefinition("UserName", StringType))).foreach {
      case (name, attrs) =>
        vault.createHub(name, Seq(ColumnDefinition("PublicID", StringType)))
        vault.createSatellite(name, attrs)
        business.createPointInTimeTableForSingleSatellite(name, name)
    }
    vault.createLink("USER__CREDENTIAL", Seq("USER_HKEY", "CREDENTIAL_HKEY"))
    vault.createCodeReferenceTable("TYPELISTS", ColumnDefinition("ID", StringType),
      Seq(ColumnDefinition("typecode", StringType), ColumnDefinition("name", StringType),
        ColumnDefinition("L_de", StringType)))
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val schema = StructType(Seq(StructField("OPERATION", IntegerType),
      StructField("LOAD_DATE", TimestampType), StructField("ID", StringType),
      StructField("typecode", StringType), StructField("name", StringType),
      StructField("L_de", StringType)))
    val rows = Seq("signup", "error", "purchase", "view", "click").map(t =>
      Row(0, t0, t, t.take(3), t.capitalize, t.reverse))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$staging/EVENT_TYPE.parquet")
    vault.loadCodeReferencesFromSourceTable("EVENT_TYPE", "TYPELISTS", "ID",
      Seq("typecode", "name", "L_de"))
    business.createActiveCodeReferenceTable("REF__TYPELISTS", "REF__TYPELISTS_ACTIVE", "ID")
  }

  // ---- the delivery body: the layers under test ----

  /** Raw events -> the source shape the stager expects (the CDC mapping
    * of the vault queries: signup CREATE, error DELETE, purchase UPDATE,
    * view BEFORE_UPDATE, click SNAPSHOT). */
  private def sourceShape(batch: DataFrame): DataFrame =
    Tables.normalizeTs(batch)
      .withColumn("OPERATION",
        when(col("event_type") === "signup", CdcOp.Create)
          .when(col("event_type") === "error", CdcOp.Delete)
          .when(col("event_type") === "purchase", CdcOp.Update)
          .when(col("event_type") === "view", CdcOp.BeforeUpdate)
          .otherwise(CdcOp.Snapshot))
      .withColumn("LOAD_DATE", loadDate)
      .withColumn("retired", lit(0))

  private def stage(batch: DataFrame): DataFrame =
    RawVaultOps.prepareStaged(sourceShape(batch), "events", "LOAD_DATE", "OPERATION",
      Seq("user_id"))

  /** The purchase/error FK feed of the link reconciliation: one event
    * per (user, ms), errors end the user's current link. */
  private def linkFeed(staged: DataFrame): DataFrame = {
    val w = Window.partitionBy(c.hkey, c.loadDate).orderBy("event_id")
    staged.filter(col("event_type").isin("purchase", "error"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col(c.hkey).as("FROM_HKEY"),
        when(col("event_type") === "error", lit(null).cast(StringType))
          .otherwise(Dv.hash(Seq(col("event_type")))).as("TO_HKEY"),
        col(c.loadDate), col("event_id"))
  }

  private def reconcile(fk: DataFrame, link: DataFrame, eff: DataFrame) =
    RawVaultOps.reconcileLinkStates(fk, link, eff, "FROM_HKEY", "TO_HKEY", "events",
      clock = clock, tieBreak = col("event_id"))

  private def load(batch: DataFrame): Unit = {
    val prepared = tracer.span("vault.stage") { materialize(stage(batch)) }
    tracer.span("vault.sat") {
      st.vault.loadSatelliteFromPreparedStageDataframe(
        RawVaultOps.stampForLoad(prepared, "events", clock), satDef)
    }
    tracer.span("vault.hub_eff") { st.vault.loadHub(prepared, Entity, Seq("user_id")) }
    tracer.span("vault.link") {
      val (links, effs) = reconcile(linkFeed(prepared), st.table(linkTable),
        st.table(linkEffTable))
      // both read the tables the appends extend: materialize first
      val l = materialize(links)
      val e = materialize(effs)
      st.vault.appendToLink(LinkEntity, l)
      st.vault.appendToEffectivity(linkEffTable, e)
    }
  }

  private def counts(): Map[String, Long] =
    vaultTables.map(t => t -> st.table(t).count()).toMap

  /** Deliver the next file and return its micro-batch latency. */
  private def deliver(): Double = {
    val d = st.deliveries(st.next)
    val name = f"d${st.next}%03d-s${d.slice}%02d.parquet"
    st.next += 1
    Files.copy(d.file.toPath, new File(st.feed, name).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    val batchSpan = tracer.reserve()
    val parent = tracer.current
    // started under the batch span: the query thread inherits the tag,
    // so the engine's own jobs are charged to streaming.batch
    val q = tracer.under(batchSpan) {
      CdcStream.foreachBatchLoader(
        spark.readStream.schema(st.rawSchema).option("maxFilesPerTrigger", 1)
          .parquet(st.feed)) { batch => tracer.under(batchSpan)(load(batch)) }
        .option("checkpointLocation", st.checkpoint)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    require(batches.length == 1,
      s"delivery $name ran ${batches.length} non-empty micro-batches, expected 1")
    val p = batches.head
    st.stagedRows += p.numInputRows
    val ms = p.durationMs.get("triggerExecution").doubleValue
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    tracer.record(Span(batchSpan, "streaming.batch", parent, tracer.op, start, start + ms))
    ms / 1000.0
  }

  private def refresh(): Unit = {
    tracer.span("vault.pit") {
      st.business.createPointInTimeTableForSingleSatellite(Entity, Entity)
    }
    tracer.span("vault.curated") {
      st.curated.mapToCurated(fields).write.format("noop").mode("overwrite").save()
    }
  }

  /** One delivery op and its refresh op; redeliveries are bracketed by
    * table counts, which must not move. */
  private def step(log: OpLog): Unit = {
    val d = st.deliveries(st.next)
    val before = if (d.replay) Some(tracer.span("bench.count")(counts())) else None
    tracer.op += 1
    try {
      val latency = tracer.span("bench.delivery")(deliver())
      log.add("delivery", latency)
    } catch { case t: Throwable if scala.util.control.NonFatal(t) =>
      log.fail("delivery", t) }
    before.foreach(b => st.replayChecks += Checks.zeroAppend(
      s"redelivery of slice ${d.slice}", b, tracer.span("bench.count")(counts())))
    tracer.op += 1
    log.run("refresh")(tracer.span("bench.refresh")(refresh()))
  }

  def warmUp(): Unit = {
    val log = new OpLog
    while (st.next < WarmDeliveries) step(log)
    require(log.failed == 0, s"warm-up failed: ${log.ops.flatMap(_.error).mkString("; ")}")
    // vault.yield covers the timed deliveries only
    st.stagedRows = 0
    if (tracer.enabled) st.rowsBefore = counts()
  }

  /** Deliveries until the deadline, and at least `MinTimed` of them: the
    * median must not rest on a different number of samples when the host
    * runs slower. */
  def timed(deadlineNs: Long, log: OpLog): Unit =
    while ((System.nanoTime() < deadlineNs || st.next < WarmDeliveries + MinTimed) &&
        st.next < st.deliveries.size) step(log)

  /** The vault after the stream equals a one-shot load of the distinct
    * delivered slices through the same RawVaultOps kernels, and every
    * redelivery appended nothing. */
  def check(log: OpLog): Seq[String] = {
    val delivered = st.deliveries.take(st.next)
    val distinctFiles = delivered.filterNot(_.replay).map(_.file.getAbsolutePath)
    val all = stage(spark.read.schema(st.rawSchema).parquet(distinctFiles: _*))
    val stamped = RawVaultOps.stampForLoad(all, "events", clock)
    def empty(t: String) = st.table(t).limit(0)
    val (links, effs) = reconcile(linkFeed(all), empty(linkTable), empty(linkEffTable))
    val expected = Seq(
      hubTable -> RawVaultOps.newHubRows(stamped, empty(hubTable), Seq("user_id")),
      satTable -> RawVaultOps.newSatelliteRows(stamped, empty(satTable),
        satDef.attributes.map(_.name)),
      effTable -> RawVaultOps.newEffectivityRows(stamped, empty(effTable)),
      linkTable -> links,
      linkEffTable -> effs)
    val replays = delivered.count(_.replay)
    (Checks.sameTables(
      expected.map { case (t, _) => t -> st.table(t) },
      expected.map { case (t, df) => t -> df.select(st.table(t).columns.map(col): _*) }
    ).map(m => Some(s"$m (vs a one-shot load)")) ++ st.replayChecks ++ Seq(
      Checks.equal("redeliveries checked", st.replayChecks.size, replays),
      Checks.atLeast("redeliveries in the run", replays, 1))).flatten
  }

  /** Rows the timed deliveries appended to the five vault tables per
    * row they delivered; one event can add a row to each table, so it
    * may exceed 1. Redeliveries add input rows and no appended rows. */
  override def ratios: Seq[(String, Double, String)] = {
    val appended = counts().map { case (t, n) => n - st.rowsBefore(t) }.sum.toDouble
    Seq(("vault.yield", appended / math.max(1L, st.stagedRows), "ratio"))
  }
}
