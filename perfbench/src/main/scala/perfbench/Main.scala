package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.Pipeline

/** One benchmark run inside one JVM: set up the session once, cold,
  * drive a fixed number of timed rounds of one workload through the
  * program's public entry points, and write every raw timing,
  * report and (when traced) job record to a JSON artifact. `run.py`
  * generates the inputs, turns the artifact into metrics and checks the
  * outputs; this side only measures.
  *
  * Usage: Main --workload W --rounds N --trace 0|1 --work DIR --out FILE
  *             [--csv DIR --from D --to D]                              (etl_*)
  *             [--sf DIR --queries FILE --check-out DIR]                 (registry)
  */
object Main {
  final case class Span(id: Long, name: String, start: Long, end: Long)
  final case class Op(round: Int, label: String, traced: Boolean, spans: Seq[Span],
                      ok: Boolean, error: String, report: Map[String, Any])

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private var tracer: Option[JobTrace] = None
  private var nextSpan = 0L
  private var t0 = 0L
  private var t0EpochMs = 0L

  private def now: Long = System.nanoTime - t0

  /** A time of the timed region (ns since its start) as epoch ms, the clock
    * of listener events, and back. */
  private def epochMs(ns: Long): Long = t0EpochMs + ns / 1000000L
  private def fromEpochMs(ms: Long): Long = (ms - t0EpochMs) * 1000000L

  /** Time `body` as a span tagged on every Spark job it launches. */
  private def span[T](spark: SparkSession, name: String, into: ArrayBuffer[Span])(body: => T): T = {
    val id = nextSpan; nextSpan += 1
    val sc = spark.sparkContext
    if (tracer.isDefined) sc.setLocalProperty(JobTrace.SpanKey, id.toString)
    val start = now
    try body finally {
      into += Span(id, name, start, now)
      if (tracer.isDefined) sc.setLocalProperty(JobTrace.SpanKey, null)
    }
  }

  /** Flush the asynchronous listener bus: run a marker job and wait until
    * the listener has seen it end, so every earlier event is delivered.
    * `done` is the listener's count of marker jobs it has seen end. */
  def drain(spark: SparkSession, done: () => Int): Unit = {
    val before = done()
    val sc = spark.sparkContext
    sc.setLocalProperty(JobTrace.SpanKey, JobTrace.SentinelSpan.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(JobTrace.SpanKey, null)
    val deadline = System.nanoTime + 60L * 1000000000L
    while (done() == before && System.nanoTime < deadline) Thread.sleep(5)
    require(done() > before, "listener bus did not drain within 60 s")
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** A workload: a warm-up that ends set-up, untimed preparation before
    * the timed region, one timed round made of ops, and untimed work after
    * the timed region that completes the rounds' ops. */
  trait Workload {
    def warmup(spark: SparkSession): Unit
    def prepare(spark: SparkSession): Map[String, Any] = Map.empty
    def round(spark: SparkSession, r: Int, traced: Boolean, ops: ArrayBuffer[Op]): Unit
    def settle(spark: SparkSession, ops: ArrayBuffer[Op]): Unit = ()
  }

  private def report(r: Pipeline.Report): Map[String, Any] = Map(
    "ds" -> r.daily.ds, "bus_rows" -> r.daily.busRows, "halte_rows" -> r.daily.halteRows,
    "agg_by_card" -> r.daily.aggByCard, "agg_by_route" -> r.daily.aggByRoute,
    "agg_by_tariff" -> r.daily.aggByTariff, "dims" -> r.dims)

  /** Days `[from, to]`. With `backfill`, a round is one
    * `Pipeline.backfill(from, to)` call from an empty DWH, split into one op
    * per day after the timed region; otherwise a round reruns
    * `Pipeline.run` for each day over one DWH (peak day). */
  final class Etl(a: Map[String, String], backfill: Boolean) extends Workload {
    private val work = a("work")
    private val conf = Pipeline.Config(a("csv"), s"$work/dwh")
    private val days = Iterator.iterate(LocalDate.parse(a("from")))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.parse(a("to")))).toSeq
    private val clock = new DayClock
    private val calls = ArrayBuffer[(Int, Boolean, Span, Either[String, Seq[Pipeline.Report]])]()

    /** The first day on the real inputs, run twice into a scratch DWH (a
      * first write, then a rerun over it): the first `Pipeline.run` in a JVM
      * is several times slower than later ones, and they keep getting
      * faster for a few more runs. */
    def warmup(spark: SparkSession): Unit = {
      val dwh = s"$work/warm_dwh"
      for (_ <- 1 to 2) Pipeline.run(spark, Pipeline.Config(a("csv"), dwh), days.head)
      rmrf(dwh)
    }

    override def prepare(spark: SparkSession): Map[String, Any] = {
      if (backfill) spark.sparkContext.addSparkListener(clock)
      Map.empty
    }

    def round(spark: SparkSession, r: Int, traced: Boolean, ops: ArrayBuffer[Op]): Unit =
      if (backfill) {
        rmrf(conf.dwhDir)
        val spans = ArrayBuffer[Span]()
        val result = try Right(span(spark, "etl.Pipeline", spans)(
          Pipeline.backfill(spark, conf, days.head, days.last)))
        catch { case NonFatal(e) => Left(errorText(e)) }
        calls += ((r, traced, spans.head, result))
      } else {
        if (r == 0) rmrf(conf.dwhDir)
        days.foreach { ds =>
          val spans = ArrayBuffer[Span]()
          val op = try {
            val rep = span(spark, "etl.Pipeline", spans)(Pipeline.run(spark, conf, ds))
            Op(r, ds.toString, traced, spans.toSeq, ok = true, "", report(rep))
          } catch { case NonFatal(e) => Op(r, ds.toString, traced, spans.toSeq, ok = false, errorText(e), Map.empty) }
          ops += op
        }
      }

    /** Each backfill call becomes one op per day. A day runs from its first
      * job (the call's start for the first day) to the next day's first
      * job (the call's end for the last); every op keeps the call's span id,
      * so the day's jobs are those of the span that start inside it. A
      * program that no longer starts every day with `Dims.run` cannot be
      * split so: each of its days then gets an equal share of the call. A
      * call that threw fails all its days. */
    override def settle(spark: SparkSession, ops: ArrayBuffer[Op]): Unit = if (backfill) {
      drain(spark, () => clock.sentinelsDone)
      spark.sparkContext.removeSparkListener(clock)
      for ((r, traced, call, result) <- calls) result match {
        case Right(reports) =>
          val starts = clock.dayStarts(epochMs(call.start), epochMs(call.end)).map(fromEpochMs)
          val bounds =
            if (starts.size == days.size - 1) (call.start +: starts) :+ call.end
            else {
              System.err.println(s"perfbench: round $r split into ${starts.size + 1} of ${days.size} days; " +
                "each day gets an equal share of the call")
              (0 to days.size).map(i => call.start + (call.end - call.start) * i / days.size)
            }
          days.zip(reports).zip(bounds.zip(bounds.tail)).foreach { case ((ds, rep), (s, e)) =>
            ops += Op(r, ds.toString, traced, Seq(call.copy(start = s, end = e)), ok = true, "", report(rep))
          }
        case Left(err) =>
          days.foreach(ds => ops += Op(r, ds.toString, traced, Seq(call), ok = false, err, Map.empty))
      }
    }
  }

  /** The query registry over one scale-factor directory, in the given order;
    * each op is one query's build (DataFrame construction) then its action
    * (the noop sink, which computes every column without writing). */
  final class Registry(a: Map[String, String]) extends Workload {
    private val sf = a("sf")
    private val all = SparkEntry.queries
    private val names = Files.readAllLines(Paths.get(a("queries"))).asScala.map(_.trim).filter(_.nonEmpty)
      .toSeq.flatMap(n => if (n == "*") all.keys.toSeq.sorted else Seq(n))
    require(names.forall(all.contains), s"unknown queries: ${names.filterNot(all.contains).mkString(", ")}")

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def warmup(spark: SparkSession): Unit = {
      noop(all("q01_agg_pricing")(spark, sf))
      spark.catalog.clearCache()
    }

    /** Untimed pass that writes each query's result for the oracle check;
      * it also runs every query once before timing (fixtures, codegen, JIT). */
    override def prepare(spark: SparkSession): Map[String, Any] = {
      val out = a("check-out")
      new File(out).mkdirs()
      val errors = names.flatMap { n =>
        val err = try { all(n)(spark, sf).write.mode("overwrite").parquet(s"$out/$n"); None }
        catch { case NonFatal(e) => Some(n -> errorText(e)) }
        spark.catalog.clearCache()
        err
      }
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        json.writeValueAsString(names.map(n => n -> oracle(n)).toMap))
      Map("check_pass_errors" -> errors.toMap)
    }

    def round(spark: SparkSession, r: Int, traced: Boolean, ops: ArrayBuffer[Op]): Unit =
      names.foreach { n =>
        val spans = ArrayBuffer[Span]()
        val op = try {
          val df = span(spark, "registry.build", spans)(all(n)(spark, sf))
          span(spark, "registry.action", spans)(noop(df))
          Op(r, n, traced, spans.toSeq, ok = true, "", Map.empty)
        } catch { case NonFatal(e) => Op(r, n, traced, spans.toSeq, ok = false, errorText(e), Map.empty) }
        spark.catalog.clearCache()
        ops += op
      }
  }

  /** Exits the JVM explicitly, so a failure cannot leave non-daemon threads
    * keeping it alive until the caller's timeout, and exits as soon as the
    * launching process is gone, so a killed run leaves no JVM behind. */
  def main(args: Array[String]): Unit = {
    val parent = ProcessHandle.current.parent
    val watchdog = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(1000)
      Runtime.getRuntime.halt(2)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val traced = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "etl_backfill" => new Etl(a, backfill = true)
      case "etl_peak_day" => new Etl(a, backfill = false)
      case "registry" => new Registry(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up, cold: from JVM start through session start and warm-up.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime
    val spark = GraftSession.get()
    val s1 = System.nanoTime
    workload.warmup(spark)
    val s2 = System.nanoTime
    val setup = Map[String, Any]("setup_s" -> (System.currentTimeMillis - jvmStartMs) / 1e3,
      "session_s" -> (s1 - s0) / 1e9, "warmup_s" -> (s2 - s1) / 1e9)
    val sc = spark.sparkContext
    val prepared = workload.prepare(spark)

    // Timed region: a fixed number of whole rounds, so every run times the
    // same ops after the same warm-up. A traced run alternates untraced and
    // traced rounds, so tracing overhead is measured in the same JVM on the
    // same ops; its first round is untraced and only warms up.
    val trace = new JobTrace
    val ops = ArrayBuffer[Op]()
    val rounds = ArrayBuffer[Map[String, Any]]()
    val nRounds = a("rounds").toInt.max(if (traced) 3 else 1)
    System.err.println("perfbench: timed region start")
    t0 = System.nanoTime
    t0EpochMs = System.currentTimeMillis
    for (r <- 0 until nRounds) {
      val tracedRound = traced && r % 2 == 1
      if (tracedRound) { sc.addSparkListener(trace); tracer = Some(trace) }
      val gc0 = gcMillis
      val start = now
      workload.round(spark, r, tracedRound, ops)
      val end = now
      val gc = gcMillis - gc0
      if (tracedRound) { drain(spark, () => trace.sentinelsDone); sc.removeSparkListener(trace); tracer = None }
      rounds += Map("round" -> r, "traced" -> tracedRound, "start" -> start, "end" -> end, "gc_ms" -> gc)
    }
    val timedNs = now
    System.err.println("perfbench: timed region end")
    workload.settle(spark, ops)
    val (jobs, execs, stages) = trace.snapshot()

    val result = Map[String, Any](
      "workload" -> a("workload"), "trace" -> traced,
      "t0_epoch_ms" -> t0EpochMs,
      "setup" -> setup, "prepare" -> prepared, "timed_s" -> timedNs / 1e9,
      "rounds" -> rounds.toSeq,
      "ops" -> ops.toSeq.map(o => Map[String, Any](
        "round" -> o.round, "label" -> o.label, "traced" -> o.traced, "ok" -> o.ok,
        "error" -> o.error, "report" -> o.report,
        "start" -> o.spans.head.start, "end" -> o.spans.last.end,
        "spans" -> o.spans.map(s => Map[String, Any](
          "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end))),
      ),
      "jobs" -> jobs, "execs" -> execs, "stages" -> stages,
      "provenance" -> Map[String, Any](
        "spark.master" -> sc.master, "spark.version" -> spark.version,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "codec" -> spark.conf.get("spark.io.compression.codec"),
        "java" -> sys.props("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "vm_hwm_kb" -> vmHwmKb)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(result))
    spark.stop()
  }
}
