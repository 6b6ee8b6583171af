package perfbench

import graft.stores.{DFStore, InferenceStore, Registry, Stores}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The direct store operations of a pass, driven only through
  * `graft.stores.{DFStore, InferenceStore, Registry}`, plus the state a
  * correct store must show afterwards. Inputs are deterministic slices
  * of `lineitem`; their fingerprints are taken once, in set-up. */
final class StoreOps(dir: String, val root: String,
                     sliceFp: scala.collection.mutable.Map[Int, (Fp, Fp)]) {
  val Slices = 64

  private val expectDf = scala.collection.mutable.Map.empty[String, Fp]
  private var expectInf: Option[Fp] = None
  private val expectReg = scala.collection.mutable.Map.empty[String, (String, String)]

  /** lineitem with its slice number (l_orderkey mod Slices) first. */
  private def sliced(spark: SparkSession): DataFrame =
    graft.core.Tables.load(spark, dir, "lineitem").select(
      (col("l_orderkey") % Slices).cast("int").as("slice"), col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_shipdate"))

  /** Model predictions for every lineitem row, slice number first. */
  private def predicted(spark: SparkSession): DataFrame =
    sliced(spark).select(col("slice"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("id"),
      concat(lit("m"), (col("slice") % 3).cast("string")).as("model"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("double").as("pred_value"),
      array(concat(lit("slice"), col("slice").cast("string"))).as("tags"),
      timestamp_seconds(col("l_orderkey") % 100000).as("timestamp"))

  def slice(spark: SparkSession, j: Int): DataFrame =
    sliced(spark).filter(col("slice") === j).drop("slice")

  def predictions(spark: SparkSession, j: Int): DataFrame =
    predicted(spark).filter(col("slice") === j).drop("slice")

  /** Fingerprints of slices `js` as written to a DFStore and, coerced to
    * the inference schema, to the InferenceStore: two jobs, in set-up. */
  def prepare(spark: SparkSession, js: Seq[Int]): Unit = {
    val keyed = StructType(StructField("slice", IntegerType) +: infStore(spark).schema.fields)
    val wanted = col("slice").isin(js.distinct: _*)
    val raw = Fingerprint.byFirst(sliced(spark).filter(wanted))
    val inf = Fingerprint.byFirst(
      Stores.coerceToSchema(predicted(spark).filter(wanted), keyed))
    js.foreach(j => sliceFp(j) = (raw(j), inf(j)))
  }

  private def dfStore(spark: SparkSession) = new DFStore(spark, root + "/df")
  private def infStore(spark: SparkSession) = new InferenceStore(spark, root)
  private def registry(spark: SparkSession) = new Registry(spark, root)

  /** Runs one operation; returns None when its observable result is
    * correct, else a description of the mismatch. Writes update the
    * expected state only once acknowledged (returned without throwing). */
  def run(spark: SparkSession, op: String, key: String, j: Int): Option[String] =
    op match {
      case "df.upsert" =>
        dfStore(spark).upsert(key, slice(spark, j))
        expectDf(key) = sliceFp(j)._1; None
      case "df.get" =>
        check(s"df $key", Fingerprint.of(dfStore(spark).get(key))._1, expectDf(key))
      case "inf.append" =>
        infStore(spark).append(predictions(spark, j))
        expectInf = Some(expectInf.getOrElse(Fingerprint.Zero) + sliceFp(j)._2); None
      case "reg.upsert" =>
        registry(spark).upsert(key, s"type$j", s"input$j")
        expectReg(key) = (s"type$j", s"input$j"); None
    }

  private def check(what: String, got: Fp, want: Fp): Option[String] =
    if (got == want) None else Some(s"$what: got ${got.json} want ${want.json}")

  private def checkRow(reg: Registry, name: String): Option[String] = {
    val want = expectReg(name)
    reg.get(name).map(r => (r.artifact_type, r.input)) match {
      case Some(got) if got == want => None
      case other => Some(s"registry $name: got $other want $want")
    }
  }

  /** Reads back every acknowledged write from `spark` (a fresh session):
    * (store object, mismatch or None). */
  def readBack(spark: SparkSession): Seq[(String, Option[String])] = {
    val df = dfStore(spark)
    expectDf.toSeq.sortBy(_._1).map { case (k, want) =>
      s"df:$k" -> check(s"df $k", Fingerprint.of(df.get(k))._1, want) } ++
    expectInf.toSeq.map(want =>
      "inf" -> check("inference", Fingerprint.of(infStore(spark).read())._1, want)) ++
    { val reg = registry(spark)
      expectReg.keys.toSeq.sorted.map(n => s"reg:$n" -> checkRow(reg, n)) }
  }

  /** (parquet files under the store root, their bytes). */
  def footprint(): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Cells of live data the stores should hold now. */
  def liveCells(): Long =
    (expectDf.values.map(_.rows).sum + expectInf.map(_.rows).getOrElse(0L)) * 7
}
