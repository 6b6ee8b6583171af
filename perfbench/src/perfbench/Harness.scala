package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark (perfbench/run.py drives it).
  *
  *   run <plan.json>                  one benchmark run (see run.py)
  *   reference <data> <out> <names> <result.json>
  *                                    dump outputs for tools/check.py and
  *                                    record their fingerprints
  *
  * The library is reached only through its public surface:
  * `SparkEntry.queries(name)(spark, dir)`, `graft.stores` and
  * `graft.core.Routing.drain()`. */
object Harness {
  val queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    graft.SparkEntry.queries

  /** A session wired the way a library user wires it: the graft
    * extension plus graft.Bench's deployment confs. No other tuning conf
    * is set; the two paths only keep scratch files inside `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Full scan of every table through the noop sink (data pages into
    * the OS page cache, as graft.Bench does). */
  def warmScan(s: SparkSession, dir: String): Unit =
    graft.core.Tables.names.foreach { t =>
      graft.core.Tables.load(s, dir, t).write.format("noop").mode("overwrite").save()
    }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    (e.getClass.getSimpleName + ": " + String.valueOf(c.getMessage)).take(300)
  }

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run") => Run(new ObjectMapper().readTree(new java.io.File(args(1)))).main()
      case Some("reference") => reference(args(1), args(2), args(3), args(4))
      case _ => System.err.println("usage: run <plan> | reference <data> <out> <names> <result>"); 2
    }
    System.exit(code)
  }

  /** Reference dump: each named query's output is written as parquet
    * (the layout tools/check.py reads, with oracle_sql.json beside it),
    * then fingerprinted live twice and from the parquet read back. */
  def reference(dir: String, out: String, namesFile: String, result: String): Int = {
    val names = Files.readAllLines(Paths.get(namesFile)).asScala.map(_.trim).filter(_.nonEmpty)
    val s = session(sys.env.getOrElse("PERFBENCH_CORES", "4").toInt, out + ".work")
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"), graft.SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    warmScan(s, dir)
    val lines = names.zipWithIndex.map { case (name, i) =>
      val fn = queries(name)
      val rec = try {
        fn(s, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        val runs = (1 to 2).map(_ => Fingerprint.of(fn(s, dir))._1)
        val back = Fingerprint.of(s.read.parquet(s"$out/$name"))._1
        s"""{"name":${q(name)},"fp":${runs(0).json},"fp2":${runs(1).json},""" +
          s""""fp_parquet":${back.json}}"""
      } catch { case NonFatal(e) =>
        s"""{"name":${q(name)},"err":${q(rootCause(e))}}"""
      }
      System.err.println(s"[perfbench] reference ${i + 1}/${names.size} $rec")
      rec
    }
    Files.writeString(Paths.get(result), lines.mkString("[\n", ",\n", "\n]\n"))
    stop(s)
    0
  }
}

/** One call's record. Times in seconds; `counters` only when traced. */
final case class Rec(phase: String, round: Int, idx: Int, kind: String, name: String,
                     lat: Double, construct: Double, materialize: Double,
                     fp: Option[Fp], err: Option[String], routes: Seq[String],
                     joinRows: Long, counters: Option[CallCounters]) {
  def json: String = {
    val c = counters.map { k =>
      s""","jobs":${k.jobs},"construct_jobs":${k.constructJobs},"stages":${k.stages},""" +
        s""""tasks":${k.tasks},"tasks_ok":${k.tasksOk},"run_ms":${k.runMs},""" +
        s""""deser_ms":${k.deserMs},"delay_ms":${k.delayMs},"in_bytes":${k.inBytes},""" +
        s""""in_rows":${k.inRows},"sh_write":${k.shWrite},"sh_read":${k.shRead},""" +
        s""""peak_mem":${k.peakMem},"sql_execs":${k.sqlExecs},"sql_failed":${k.sqlFailed}"""
    }.getOrElse("")
    s"""{"phase":"$phase","round":$round,"idx":$idx,"kind":"$kind","name":${Harness.q(name)},""" +
      s""""lat":$lat,"construct":$construct,"materialize":$materialize,""" +
      s""""fp":${fp.map(_.json).getOrElse("null")},"err":${err.map(Harness.q).getOrElse("null")},""" +
      s""""routes":${routes.map(Harness.q).mkString("[", ",", "]")},"join_rows":$joinRows$c}"""
  }
}

/** One benchmark run, as planned by run.py. */
final case class Run(plan: JsonNode) {
  import Harness._

  private val data = plan.get("data").asText
  private val work = plan.get("work").asText
  private val cores = plan.get("cores").asInt
  private val passCount = plan.get("passes").asInt
  private val traced = plan.get("trace").asInt == 1
  private val setupReps = plan.get("setup_reps").asInt
  private val calls = plan.get("calls").elements.asScala.toIndexedSeq
  private val sliceFp = scala.collection.mutable.Map.empty[Int, (Fp, Fp)]

  private def storeOps(name: String) = new StoreOps(data, s"$work/$name", sliceFp)

  /** Every SparkEntry query must sit in exactly one pool. */
  private def coverage(): Option[String] = {
    val pools = plan.get("pools").fields.asScala.toSeq.map(e =>
      e.getKey -> e.getValue.elements.asScala.map(_.asText).toSeq)
    val seen = pools.flatMap(_._2).groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    val missing = queries.keySet -- pools.flatMap(_._2)
    val unknown = pools.flatMap(_._2).toSet -- queries.keySet
    if (seen.isEmpty && missing.isEmpty && unknown.isEmpty) None
    else Some(s"in two pools: ${seen.toSeq.sorted}; in no pool: ${missing.toSeq.sorted}; " +
      s"not a query: ${unknown.toSeq.sorted}")
  }

  /** Executes call `i` of the plan once. */
  private def call(spark: SparkSession, stores: StoreOps, phase: String, round: Int,
                   i: Int, tracer: Option[Tracer]): Rec = {
    val c = calls(i)
    val kind = c.get("kind").asText
    graft.core.Routing.drain()
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime
    var t1 = t0
    var w1 = w0
    var fp: Option[Fp] = None
    var joinRows = 0L
    val name = if (kind == "query") c.get("name").asText else c.get("op").asText
    val err: Option[String] = try {
      if (kind == "query") {
        val df = queries(name)(spark, data)
        t1 = System.nanoTime; w1 = System.currentTimeMillis
        val (f, p) = Fingerprint.of(df)
        fp = Some(f)
        if (tracer.isDefined) joinRows = Fingerprint.joinRows(p)
        None
      } else {
        stores.run(spark, name, c.get("key").asText, c.get("slice").asInt)
      }
    } catch { case NonFatal(e) => Some(rootCause(e)) }
    val t2 = System.nanoTime
    val w2 = System.currentTimeMillis
    val routes = graft.core.Routing.drain()
    val counters = tracer.map { tr =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      tr.closeCall(tr.newId(), w0, w1, w2)
    }
    Rec(phase, round, i, kind, name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      fp, err, routes, joinRows, counters)
  }

  /** One pass over the plan's call list; returns its wall seconds. */
  private def pass(spark: SparkSession, stores: StoreOps, phase: String, round: Int,
                   tracer: Option[Tracer], out: ArrayBuffer[Rec]): Double = {
    val t0 = System.nanoTime
    calls.indices.foreach(i => out += call(spark, stores, phase, round, i, tracer))
    (System.nanoTime - t0) / 1e9
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def rssPeakKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(): Int = {
    coverage() match {
      case Some(msg) => System.err.println(s"[perfbench] pool coverage check failed: $msg"); return 3
      case None =>
    }
    val recs = ArrayBuffer.empty[Rec]
    val slices = calls.filter(_.get("kind").asText == "store").map(_.get("slice").asInt)

    // set-up, repeated: session start, warm table scan, one untimed warm
    // call of every planned call (first-call codegen and JIT land here).
    // Every repetition times the same work: the store inputs' reference
    // fingerprints (first repetition only) and the session stop are
    // outside the timed span.
    val setup = (1 to setupReps).map { r =>
      val t0 = System.nanoTime
      val s = session(cores, work)
      val tSession = (System.nanoTime - t0) / 1e9
      warmScan(s, data)
      val tScan = (System.nanoTime - t0) / 1e9
      if (r == 1 && slices.nonEmpty) storeOps("warm").prepare(s, slices)
      val t1 = System.nanoTime
      pass(s, storeOps(s"warm-$r"), "warm", r, None, recs)
      val tWarm = (System.nanoTime - t1) / 1e9
      if (r < setupReps) stop(s)
      System.err.println(f"[perfbench] set-up $r: session $tSession%.2f s, " +
        f"scan ${tScan - tSession}%.2f s, warm calls $tWarm%.2f s")
      tScan + tWarm
    }
    val spark = SparkSession.active
    val stores = storeOps("stores")
    // one untimed pass in the session the timed passes use: the warm calls
    // above ran in fresh sessions, and a pass right after them still ran
    // 10-20% slower while the JIT caught up
    pass(spark, stores, "settle", 0, None, recs)

    // timed passes (run.py sizes their number to --seconds); when traced,
    // each is paired with a traced pass of the same calls, the pair's
    // order alternating, so warm-up drift does not land on one side of
    // the tracing overhead
    val passes = ArrayBuffer.empty[Double]
    val tracedPasses = ArrayBuffer.empty[Double]
    val tracer = new Tracer
    var gcMs = 0L
    def tracedPass(r: Int): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val g0 = gcMillis()
      tracedPasses += pass(spark, stores, "traced", r, Some(tracer), recs)
      gcMs += gcMillis() - g0
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    (0 until passCount).foreach { r =>
      if (traced && r % 2 == 1) tracedPass(r)
      passes += pass(spark, stores, "timed", r, None, recs)
      if (traced && r % 2 == 0) tracedPass(r)
    }

    val (files, bytes) = stores.footprint()
    // acknowledged writes must read back from a fresh session
    stop(spark)
    val readBack = if (slices.isEmpty) Seq.empty else {
      val fresh = session(cores, work)
      try stores.readBack(fresh) catch { case NonFatal(e) => Seq("all" -> Some(rootCause(e))) }
      finally stop(fresh)
    }

    if (traced) Files.write(Paths.get(plan.get("spans").asText),
      tracer.spans.map(_.json).asJava)
    val self = Trace.selfTimes(tracer.spans.toSeq)
    val json =
      s"""{"setup_s":${setup.mkString("[", ",", "]")},""" +
        s""""passes_s":${passes.mkString("[", ",", "]")},""" +
        s""""traced_passes_s":${tracedPasses.mkString("[", ",", "]")},""" +
        s""""rss_peak_kb":${rssPeakKb()},"gc_s":${gcMs / 1000.0},""" +
        s""""store_files":$files,"store_bytes":$bytes,""" +
        s""""store_live_cells":${stores.liveCells()},"driver_self_s":${Trace.driverSelf(tracer.spans.toSeq)},""" +
        s""""self_s":${self.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""read_back":${readBack.map { case (k, e) =>
          s"""{"key":${q(k)},"err":${e.map(q).getOrElse("null")}}""" }.mkString("[", ",", "]")},""" +
        s""""calls":${recs.map(_.json).mkString("[\n", ",\n", "\n]")}}"""
    Files.writeString(Paths.get(plan.get("out").asText), json)
    0
  }
}
