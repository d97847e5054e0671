package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns None when the output is right and a
  * message naming what is wrong otherwise; the run then exits non-zero. */
object Checks {
  /** Each named table of `actual` holds the same rows as its namesake in
    * `expected`, duplicates counted — compared by multiset fingerprint
    * (row count and two independent 64-bit hash sums), one job a side. */
  def sameTables(actual: Seq[(String, DataFrame)],
      expected: Seq[(String, DataFrame)]): Seq[String] = {
    def fingerprints(tables: Seq[(String, DataFrame)]) = tables.map { case (n, df) =>
      val cols = df.columns.sorted.toSeq.map(col)
      df.select(lit(n).as("t"), xxhash64(cols: _*).cast("decimal(38,0)").as("h1"),
        hash(cols: _*).cast("decimal(38,0)").as("h2"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum("h1"), sum("h2"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2), r.getDecimal(3)))
      .toMap
    val (a, e) = (fingerprints(actual), fingerprints(expected))
    expected.map(_._1).flatMap { t =>
      val (na, ne) = (a.get(t).map(_._1).getOrElse(0L), e.get(t).map(_._1).getOrElse(0L))
      if (a.get(t) == e.get(t)) None
      else Some(s"$t: $na rows, expected $ne" + (if (na == ne) " (contents differ)" else ""))
    }
  }

  /** A redelivered delivery appended nothing to any table. */
  def zeroAppend(name: String, before: Map[String, Long],
      after: Map[String, Long]): Option[String] = {
    val grown = before.keys.toSeq.sorted.filter(t => after(t) != before(t))
    if (grown.isEmpty) None
    else Some(s"$name appended rows to " +
      grown.map(t => s"$t (${before(t)} -> ${after(t)})").mkString(", "))
  }

  def equal[T](name: String, actual: T, expected: T): Option[String] =
    if (actual == expected) None else Some(s"$name: got $actual, expected $expected")

  /** No row of `rows` is missing from `of`, compared on `key`. */
  def subset(name: String, rows: DataFrame, of: DataFrame, key: String): Option[String] = {
    val outside = rows.select(key).join(of.select(key), Seq(key), "left_anti").count()
    if (outside == 0) None else Some(s"$name: $outside rows outside the input")
  }

  def empty(name: String, df: DataFrame): Option[String] = {
    val n = df.count()
    if (n == 0) None else Some(s"$name: $n rows, expected none")
  }

  def atLeast(name: String, value: Double, floor: Double): Option[String] =
    if (value >= floor) None else Some(s"$name: $value below the floor $floor")

  def disjoint(name: String, seen: Set[Long], forbidden: Set[Long]): Option[String] = {
    val back = seen.intersect(forbidden)
    if (back.isEmpty) None
    else Some(s"$name: ${back.size} ids returned after their delete, e.g. ${back.min}")
  }
}
