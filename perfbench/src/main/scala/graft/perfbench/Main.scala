package graft.perfbench

import java.io.{File, PrintWriter}
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload vault_cdc|curate_serve --seed N
  *      --seconds S --trace 0|1 --data DIR --work DIR
  * }}}
  *
  * Prints, as its last stdout line, one JSON object: `correct`,
  * `attempted`, `failed` and the metrics — the end-to-end set untraced,
  * the per-layer set traced. Exits 1 when an output check fails or an
  * op failed. */
object Main {
  val Cores = 4

  /** Spans reported per layer, each as calls, self_s, jobs, gap_s and
    * shuffle_bytes. */
  val LayerSpans = Seq(
    "streaming.batch", "vault.stage", "vault.sat", "vault.hub_eff", "vault.link",
    "vault.pit", "vault.curated",
    "text.gate", "dedup.exact", "dedup.jaccard", "dedup.minhash", "similarity.neardup",
    "dedup.drop", "sampling.quota", "packing.pack",
    "similarity.ivf_build", "dedup.band_build", "similarity.ivf_probe", "dedup.band_probe",
    "similarity.ivf_append", "dedup.band_append", "similarity.ivf_delete",
    "similarity.ivf_compact")

  /** Workload ratios, present on every traced run (0 where the workload
    * never produces them). */
  val Ratios = Seq(
    "vault.yield" -> "ratio", "dedup.jaccard.join_rows" -> "count",
    "dedup.jaccard.yield" -> "ratio", "dedup.minhash.join_rows" -> "count",
    "dedup.minhash.yield" -> "ratio", "similarity.recall_at_10" -> "fraction")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case t: Throwable =>
        t.printStackTrace()
        2
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(code)
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Args): Int = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = session(a.work)
    val sessionS = since(t0)
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val jobs = if (a.trace) Some(Listeners.jobs(spark.sparkContext)) else None
    val progress = if (a.trace) Some(Listeners.deliveries(spark)) else None
    val ctx = new Ctx(spark, tracer, a.seed, a.data, a.work)
    val wl: Workload = a.workload match {
      case "vault_cdc" => new VaultCdc(ctx)
      case "curate_serve" => new CurateServe(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val tp = System.nanoTime()
    wl.prepare()
    val prepareS = since(tp)
    val tw = System.nanoTime()
    val warmStart = tracer.nowMs()
    wl.warmUp()
    val warmEnd = tracer.nowMs()
    val warmS = since(tw)
    val setupS = sessionS + prepareS + warmS

    val log = new OpLog
    jobs.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val runMs0 = jobs.map(_.runMs.get).getOrElse(0L)
    val spill0 = jobs.map(_.spillBytes.get).getOrElse(0L)
    val phaseStart = tracer.nowMs()
    val tt = System.nanoTime()
    wl.timed(tt + a.seconds * 1000000000L, log)
    val wallS = since(tt)
    val phaseEnd = tracer.nowMs()
    jobs.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val runMs1 = jobs.map(_.runMs.get).getOrElse(0L)
    val spill1 = jobs.map(_.spillBytes.get).getOrElse(0L)

    val tc = System.nanoTime()
    val failures = wl.check(log)
    val checkS = since(tc)
    val ops = log.ops.filter(o => wl.primary(o.kind))
    val correct = failures.isEmpty && log.failed == 0 && ops.nonEmpty &&
      log.ops.exists(o => wl.batch(o.kind))
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    log.ops.filterNot(_.ok).foreach(o => System.err.println(s"[perfbench] ${o.kind}: ${o.error.get}"))
    // the mean of each op kind's median: a mix of kinds with different
    // costs (IVF and band probes) would otherwise put the median between
    // the two modes, where it jumps with the mix
    def p50(kinds: Set[String]) = {
      val medians = kinds.toSeq.map(k => log.latencies(Set(k))).filter(_.nonEmpty)
        .map(Stats.median)
      if (medians.isEmpty) Double.PositiveInfinity else medians.sum / medians.size
    }
    val opP50 = p50(wl.primary)
    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} setup=$setupS%.2fs " +
      f"(session $sessionS%.2f, prepare $prepareS%.2f, " +
      f"warm-up $warmS%.2f) ops=${log.attempted} wall=$wallS%.2fs check=$checkS%.2fs " +
      log.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
        f"$k: n=${os.size} p50=${Stats.median(os.map(_.latency).toSeq)}%.3f" }.mkString(" ") +
      Seq(ops, log.ops.filter(o => wl.batch(o.kind))).map(_.map(o => f"${o.latency}%.2f")
        .mkString(" [", " ", "]")).mkString)

    val metrics = if (!a.trace) Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", opP50, "s"),
      ("batch_p50_s", p50(wl.batch), "s"))
    else {
      PerfbenchBus.drain(spark.sparkContext)
      val j = jobs.get
      // warm-up and check calls are excluded: the per-layer figures
      // describe the set-up and the timed phase
      val spans = tracer.spans.filterNot(s =>
        s.startMs >= warmStart && s.startMs < warmEnd || s.startMs >= phaseEnd)
      writeSpans(new File(a.work, s"spans-${a.workload}-${a.seed}.json"), spans)
      val layer = Layers.summarize(spans, j)
      val ratios = wl.ratios.map(r => r._1 -> r._2).toMap
      val timedSpans = spans.filter(s => s.startMs >= phaseStart && s.endMs <= phaseEnd)
      val selfByName = Layers.selfTimes(timedSpans)
      val benchSelf = selfByName.filter(_._1.startsWith("bench.")).values.sum
      val layerSelf = selfByName.filterNot(_._1.startsWith("bench.")).values.sum
      val busy = (runMs1 - runMs0) / 1000.0 / (wallS * Cores)
      LayerSpans.flatMap { s =>
        val m = layer.getOrElse(s, Layers.Zero)
        Seq((s"$s.calls", m.calls.toDouble, "count"), (s"$s.self_s", m.self, "s"),
          (s"$s.jobs", m.jobs.toDouble, "count"), (s"$s.gap_s", m.gap, "s"),
          (s"$s.shuffle_bytes", m.shuffleBytes.toDouble, "bytes"))
      } ++ Ratios.map { case (n, u) => (n, ratios.getOrElse(n, 0.0), u) } ++ Seq(
        ("spark.busy_share", busy, "ratio"),
        ("spark.spill_bytes", (spill1 - spill0).toDouble, "bytes"),
        ("trace.wall_s", wallS, "s"),
        ("trace.layer_self_s", layerSelf, "s"),
        ("trace.bench_self_s", benchSelf, "s"),
        ("trace.op_p50_s", opP50, "s"),
        ("trace.deliveries", progress.get.progress.asScala.count(_.progress.numInputRows > 0)
          .toDouble, "count"))
    }
    println(Json.result(correct, log.attempted, log.failed, metrics))
    spark.streams.active.foreach(_.stop())
    spark.stop()
    if (correct) 0 else 1
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(spans.map(s =>
        s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
          s""""op": ${s.op}, "start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}}""")
        .mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

/** Per-span-name aggregates over the recorded spans. */
object Layers {
  final case class Agg(calls: Int, self: Double, jobs: Int, gap: Double, shuffleBytes: Long)
  val Zero = Agg(0, 0, 0, 0, 0)

  /** Self time of each span: its duration minus the part its children
    * cover (children of one span run one after another). */
  def self(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => math.max(0.0, math.min(k.endMs, s.endMs) - math.max(k.startMs, s.startMs)))
        .sum
      s.id -> math.max(0.0, s.endMs - s.startMs - covered) / 1000.0
    }.toMap
  }

  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val st = self(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => st(s.id)).sum }
  }

  /** Length of the union of intervals, in ms. */
  def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((tot, end), (a, b)) =>
      if (b <= end) (tot, end)
      else (tot + b - math.max(a, end), b)
    }._1

  def summarize(spans: Seq[Span], jobs: JobAttribution): Map[String, Agg] = {
    val st = self(spans)
    val bySpan = jobs.jobs.asScala.values.groupBy(_.span)
    spans.groupBy(_.name).map { case (name, ss) =>
      val aggs = ss.map { s =>
        val js = bySpan.getOrElse(s.id, Nil).toSeq
        val busy = union(js.map(j =>
          (math.max(j.startMs.toDouble, s.startMs),
            math.min(if (j.endMs < 0) s.endMs else j.endMs.toDouble, s.endMs)))
          .filter { case (a, b) => b > a })
        val gap = math.max(0.0, st(s.id) - busy / 1000.0)
        Agg(1, st(s.id), js.size, gap,
          Option(jobs.shuffleBytes.get(s.id)).map(_.get).getOrElse(0L))
      }
      name -> aggs.reduce((x, y) => Agg(x.calls + y.calls, x.self + y.self, x.jobs + y.jobs,
        x.gap + y.gap, x.shuffleBytes + y.shuffleBytes))
    }
  }
}
