package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{Row, SparkSession}

/** One timed operation: what it was, how long it took, whether it completed
  * with the same result as the first run of its key, and whether it ran
  * with tracing on.
  */
final case class Op(kind: String, key: String, ms: Double, ok: Boolean, err: String,
    traced: Boolean)

/** Options passed by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String)

/** State of one workload run: the session, the timed operations, the
  * untimed set-up time, the payload for the oracle checks and, in a traced
  * run, the collector and spans.
  *
  * A traced run traces its once-only phases and the second half of the
  * request window; the first half runs untraced so the run can report what
  * tracing costs.
  */
final class Ctx(val spark: SparkSession, val o: Opts) {
  val collector = new Collector
  val spans = new Spans
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  /** Epoch-ms windows of the traced operations (driver-gap accounting). */
  val windows: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Per-workload payload for the oracle checks made in `run.py`. */
  val checks: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Workload-specific numbers (counts, sizes) for the report. */
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Collector totals per phase ("batch", "op", "read") of a traced run. */
  val phases: mutable.LinkedHashMap[String, Map[String, Any]] = mutable.LinkedHashMap.empty
  private val firstDigest = mutable.Map.empty[String, Int]
  val rng = new scala.util.Random(o.seed)
  var setupNs = 0L
  var windowS = 0.0
  /** Seconds over which the window's operations ran, when that is not the
    * window itself (a stream's sampled batches, from the first one's trigger
    * to the last completed one's end).
    */
  var activeS: Option[Double] = None
  /** Epoch ms at which tracing was switched on inside the window. */
  var tracedFromMs: Long = Long.MaxValue
  private var windowStartNs = 0L
  private var tracing = false

  /** Untimed work before a timed phase; counts toward set-up time. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupNs += System.nanoTime() - t0
  }

  /** Run `body` as one timed operation. `body` returns a digest of its
    * result; a digest that differs from the key's first one fails the op.
    * A throwing op is recorded as failed and never as a timing.
    */
  def op(kind: String, key: String)(body: => Int): Unit = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(spans(s"op.$kind")(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracing) windows += ((w0, System.currentTimeMillis()))
    ops += (res match {
      case Right(d) => firstDigest.get(key) match {
        case Some(f) if f != d => Op(kind, key, ms, ok = false, "result differs from first run", tracing)
        case Some(_) => Op(kind, key, ms, ok = true, "", tracing)
        case None => firstDigest(key) = d; Op(kind, key, ms, ok = true, "", tracing)
      }
      case Left(e) => Op(kind, key, ms, ok = false, e.toString.take(300), tracing)
    })
  }

  /** Record an op timed elsewhere (a micro-batch timed by Spark). */
  def recordOp(kind: String, key: String, ms: Double, ok: Boolean, err: String,
      traced: Boolean): Unit = ops += Op(kind, key, ms, ok, err, traced)

  /** A phase of timed operations that run once each (the batch phase, the
    * snapshot reads), traced throughout in a traced run.
    */
  def phase(name: String)(body: => Unit): Unit = {
    setTracing(o.trace)
    body
    endPhase(name)
  }

  /** The closed-loop request window: `body` starts operations while
    * [[more]] holds. A traced run switches tracing on at half time.
    */
  def window(body: => Unit): Unit = {
    setTracing(false)
    windowStartNs = System.nanoTime()
    body
    windowS = (System.nanoTime() - windowStartNs) / 1e9
    endPhase("op")
  }

  /** Endless seeded rounds over `xs`, each round a fresh permutation: every
    * element recurs equally often, so a short run's mix does not drift
    * with the seed.
    */
  def rounds[T](xs: Seq[T]): Iterator[T] = Iterator.continually(rng.shuffle(xs)).flatten

  def elapsedS: Double = (System.nanoTime() - windowStartNs) / 1e9

  /** Closed loop: start another operation only while the window is open. */
  def more: Boolean = {
    if (o.trace && !tracing && elapsedS >= o.seconds / 2) {
      tracedFromMs = System.currentTimeMillis()
      setTracing(true)
    }
    elapsedS < o.seconds
  }

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    spans.enabled = on
    if (on) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector.queryListener)
      spark.streams.addListener(collector.streamListener)
    } else {
      spark.sparkContext.removeSparkListener(collector)
      spark.listenerManager.unregister(collector.queryListener)
      spark.streams.removeListener(collector.streamListener)
    }
  }

  /** Close a phase of a traced run: keep its counters, start afresh. */
  private def endPhase(name: String): Unit = if (o.trace) {
    ListenerDrain(spark.sparkContext)
    val gap = windows.map { case (a, b) => collector.driverGapMs(a, b) }.sum
    val wall = windows.map { case (a, b) => (b - a).toDouble }.sum
    phases(name) = collector.snapshot() ++ Map("driver_gap_ms" -> gap, "wall_ms" -> wall)
    collector.reset()
    windows.clear()
    setTracing(false)
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"))
    val load0 = loadAvg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // run.py writes the inputs while the session starts, then marks them ready
    while (!Files.exists(Paths.get(s"${o.data}.ready"))) Thread.sleep(10)
    val ctx = new Ctx(spark, o)
    ctx.setupNs = (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val workload: Workload = o.workload match {
      case "etl_dashboards" => new EtlDashboards(ctx)
      case "ingest_operators" => new IngestOperators(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    workload.run()
    val result = Map(
      "setup_s" -> ctx.setupNs / 1e9,
      "window_s" -> ctx.activeS.getOrElse(ctx.windowS),
      "traced_from_ms" -> ctx.tracedFromMs,
      "ops" -> ctx.ops.map(p => Map("kind" -> p.kind, "key" -> p.key, "ms" -> p.ms,
        "ok" -> p.ok, "err" -> p.err, "traced" -> p.traced)),
      "checks" -> ctx.checks,
      "extra" -> ctx.extra,
      "phases" -> ctx.phases,
      "spans" -> ctx.spans.all.map(s => Seq(s.id, s.parent, s.name, s.startNs, s.endNs)),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> graft.GraftSession.cpus,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "load_avg_before" -> load0,
        "load_avg_after" -> loadAvg(),
        "calibration_probe_s" -> graft.Bench.calibrationProbeSec(),
        "heap_live_mb" -> liveHeapMb(),
        "rss_peak_mb" -> rssPeakMb()))
    // written whole, then renamed: run.py reads it as soon as it appears
    val tmp = Paths.get(o.out + ".tmp")
    Files.write(tmp, Json(result).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(o.out), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }

  private def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  /** Heap still reachable after the run, in MB: used heap after full GCs. */
  private def liveHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Order-independent digest of collected rows. */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toSeq.map(String.valueOf)))
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case bd: BigDecimal => bd.bigDecimal.toPlainString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
}
