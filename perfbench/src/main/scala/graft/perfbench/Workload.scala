package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the tracer, the seed, the
  * input directory (the sf0.1 tables the inputs are derived from) and a
  * scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val dataDir: String, val work: String) {
  /** A generator for one seeded choice; `salt` separates the choices so
    * adding one never shifts another. */
  def rnd(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Materialize a stage the way a staged pipeline would hand it on. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
}

/** A closed-loop workload: one client, the next op starts when the
  * previous one has returned. */
trait Workload {
  /** Op kinds summarized by `op_p50_s`: the per-request ops. */
  def primary: Set[String]
  /** Op kinds summarized by `batch_p50_s`: the periodic batch ops. */
  def batch: Set[String]
  /** Generate the inputs and build what the timed loop needs. */
  def prepare(): Unit
  /** Exercise the timed code path once, untimed. */
  def warmUp(): Unit
  /** Run ops until `deadlineNs` (System.nanoTime) has passed. */
  def timed(deadlineNs: Long, log: OpLog): Unit
  /** Output checks; each failure is a message. */
  def check(log: OpLog): Seq[String]
  /** Traced-run ratios: (name, value, unit). */
  def ratios: Seq[(String, Double, String)] = Nil
}
