package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a frame: row count plus two
  * wrapping sums over a per-row xxhash64 of every column.
  *
  * The fingerprint IS the timed action. It references every output
  * column, so Catalyst cannot prune projections or window outputs the
  * way it does under `count()`: on the seed commit 10 of 38 sampled
  * queries did 1.5-4.5x more work fully materialized (q289 0.49 -> 2.23 s,
  * q142 0.38 -> 1.18 s, q139 0.10 -> 0.38 s, q172 0.25 -> 0.65 s). Do not
  * "optimize" the harness back to `count()`: it would time less work than
  * a caller reading the result does. A projection over the frame keeps
  * its sorts (only aggregates and joins let Catalyst drop a sort), and
  * the output check costs no second execution. */
final case class Fp(rows: Long, h1: Long, h2: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, h1 + o.h1, h2 + o.h2)
  def json: String = s"""{"rows":$rows,"h1":"${java.lang.Long.toHexString(h1)}","h2":"${java.lang.Long.toHexString(h2)}"}"""
}

object Fingerprint {
  val Zero: Fp = Fp(0L, 0L, 0L)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Per-row hash over every column but `skip` of a frame with
    * positional column names (outputs may repeat a column name); maps
    * are hashed as JSON because xxhash64 rejects them. */
  private def rowHash(named: DataFrame, skip: String = ""): Column = {
    val cols = named.schema.fields.toSeq.filter(_.name != skip).map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name) }
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private val fpEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  private def add(it: Iterator[Long]): Fp = {
    var n = 0L; var a = 0L; var b = 0L
    it.foreach { h => n += 1; a += h; b += h * (h | 1L) }
    Fp(n, a, b)
  }

  /** Runs `df` once and returns its fingerprint and the executed plan. */
  def of(df: DataFrame): (Fp, SparkPlan) = {
    val named = positional(df)
    val parts = named.select(rowHash(named)).as(Encoders.scalaLong).mapPartitions { it =>
      val f = add(it); Iterator((f.rows, f.h1, f.h2))
    }(fpEncoder)
    val fp = parts.collect().foldLeft(Zero) { case (acc, (n, a, b)) => acc + Fp(n, a, b) }
    (fp, parts.queryExecution.executedPlan)
  }

  /** Fingerprints of the groups of `df` by its first column (an int, not
    * hashed), in one job: each equals `of` on that group without it. */
  def byFirst(df: DataFrame): Map[Int, Fp] = {
    val named = positional(df)
    named.select(col("c0"), rowHash(named, skip = "c0"))
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.map { case (k, rows) => (k, add(rows.iterator.map(_._2))) }
      }(Encoders.tuple(Encoders.scalaInt, Encoders.product[Fp]))
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Rows emitted by join operators in an executed plan (final adaptive
    * plan, query stages and subqueries included). */
  def joinRows(plan: SparkPlan): Long = {
    var n = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case j: BaseJoinExec =>
          n += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          j.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    n
  }
}
