package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{GraftSession, SparkEntry}
import graft.sources.CdcFormats
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points and writes raw measurements (and, when traced,
  * the span file) into the work directory. `perfbench/run.py` builds
  * this, generates the inputs, checks results and prints the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <inject 0|1>
  */
object Main {
  /** Fixed query lists, sized so a run fits the benchmark's time budget
    * on 4 cores (NOTES.md has the sizing): the full 70-query
    * TPC-H/relational/window/CEP list takes ~26 s a warm pass and ~60 s
    * cold. Every family stays, and so does the Flink-dialect rewrite
    * (w10). */
  val Workloads: Map[String, Seq[String]] = Map(
    "sql_batch" -> Seq(
      "th08_market_share", "q07_over_running", "q19_grouping_sets",
      "w10_sql_hop_tvf", "m01_cep_strict", "m04_match_recognize"),
    "cdc_stream" -> Nil)

  /** Untimed passes before timing: the first also writes every result
    * for the oracle check. Per-query times keep falling for a few more
    * passes (JIT); the second-slowest timed pass swung with that warming
    * when only one untimed pass ran. The timed passes are always the 3rd,
    * 4th, ... execution of each query (NOTES.md). */
  val WarmupPasses = 2
  val MinTimedPasses = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, inject: Boolean)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: Main <workload> <seed> <seconds> <trace> <data> <work> <inject>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6) == "1")
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val trace = new Trace(a.trace)
    val loadStart = loadAvg()
    val cpus = sys.props.get("perfbench.cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = trace.span("session") {
      GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    trace.register(spark)
    val progress = new Progress(trace)
    spark.streams.addListener(progress)

    val raw = a.workload match {
      case "cdc_stream" => new CdcWorkload(spark, a, trace, progress).run()
      case w => new BatchWorkload(spark, a, trace, Workloads(w)).run()
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val facts = Map(
      "cpus" -> cpus, "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).toSeq,
      "seed" -> a.seed, "warmup_passes" -> WarmupPasses,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg())
    val rss = vmHwmMb()
    if (a.trace) trace.write(s"${a.work}/spans.jsonl")
    write(s"${a.work}/raw.json", json(raw ++ Map("facts" -> facts, "rss_peak_mb" -> rss)))
    spark.stop()
  }

  def jvmUptimeS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def json(m: Map[String, Any]): String = Serialization.write(m)(DefaultFormats)

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))

  private def loadAvg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+").take(3).map(_.toDouble).toSeq

  /** Peak resident set of this JVM (scheduler and executors alike). */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** sql_batch: untimed passes that write every result for the oracle
  * and warm the JVM, then timed passes in a seeded order until the run's
  * seconds are used (at least `MinTimedPasses`). Every timed query
  * is materialised through the `noop` sink, which consumes every output
  * column, never `.count()`, which lets Catalyst prune. */
final class BatchWorkload(spark: SparkSession, a: Main.Args, trace: Trace,
                          names: Seq[String]) {
  private val registry = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  private val rng = new Random(a.seed)
  private var attempted = 0
  private var failed = 0

  private def family(name: String): String = name.takeWhile(_.isLetter)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Builds and materialises one query; returns its wall seconds. */
  private def exec(name: String, sink: DataFrame => Unit): Option[Double] = {
    attempted += 1
    try Some(trace.timed("query", Map("query" -> name, "family" -> family(name))) {
      val df = trace.span("construct")(registry(name)(spark, a.data))
      trace.span("action")(sink(df))
    }._2) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally {
      // localCheckpoint blocks stay pinned otherwise and tax later queries
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
    }
  }

  def run(): Map[String, Any] = {
    names.foreach { n =>
      require(registry.contains(n), s"no query $n")
      require(oracle.contains(n), s"no oracle SQL for $n")
    }
    val results = s"${a.work}/results"
    trace.span("setup") {
      trace.span("warmup") {
        rng.shuffle(names).foreach { n =>
          exec(n, df => {
            val out = if (a.inject && n == names.head) df.union(df.limit(1)) else df
            out.write.mode("overwrite").parquet(s"$results/$n")
          })
        }
        (1 until Main.WarmupPasses).foreach(_ => rng.shuffle(names).foreach(exec(_, noop)))
      }
    }
    Main.write(s"$results/oracle_sql.json", Main.json(names.map(n => n -> oracle(n)).toMap))
    val setupS = Main.jvmUptimeS()

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (passes.size < Main.MinTimedPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val (per, wall) = trace.timed("pass", Map("index" -> passes.size)) {
        rng.shuffle(names).map(n => n -> exec(n, noop))
      }
      passes += Map("wall_s" -> wall, "queries" -> per.collect { case (n, Some(t)) => n -> t }.toMap)
    }
    Map("workload" -> a.workload, "setup_s" -> setupS, "queries" -> names,
      "passes" -> passes.toSeq, "attempted" -> attempted, "failed" -> failed)
  }
}

/** cdc_stream: graft-log -> debezium-json -> ChangelogNormalize -> upsert
  * sink. Backfill drains a preloaded log under maxRecordsPerTrigger (a
  * closed loop); the live phase then appends one tick of `LiveEvents`
  * events every `IntervalMs` for `LiveShare` of the run's seconds on a fixed
  * schedule (an open loop) while the same query runs with the default
  * trigger. The final state is checked against the generator's own
  * keep-latest fold, before and after compaction. */
final class CdcWorkload(spark: SparkSession, a: Main.Args, trace: Trace, progress: Progress) {
  import CdcWorkload._

  private var attempted = 0
  private var failed = 0

  private def pipeline(logDir: String, stateDir: String, ckpt: String) = {
    val src = trace.span("source") {
      spark.readStream.format("graft-log").option("path", logDir)
        .option("maxRecordsPerTrigger", Cap).load()
    }
    val parsed = trace.span("debezium_json") {
      CdcFormats.debeziumJson(src.select(col("offset"), col("value")), col("value"), Physical)
        .drop("value")
    }
    val kindRank = when(col("__rowkind") === "+I", 0).when(col("__rowkind") === "-U", 1)
      .when(col("__rowkind") === "+U", 2).otherwise(3)
    val norm = trace.span("normalize") {
      CdcStream.normalize(parsed.withColumn("__version", col("offset") * 4 + kindRank),
        Seq("k"), "__version")
    }
    trace.span("upsert_sink") { CdcStream.upsertSink(norm, stateDir, ckpt).start() }
  }

  private def state(stateDir: String): Map[Long, (String, Long)] =
    CdcStream.readState(spark, stateDir, Seq("k"), "__version")
      .select(col("k"), col("v"), col("n")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  /** One correctness check: the upsert table equals the generator fold. */
  private def check(what: String, got: Map[Long, (String, Long)],
                    want: Map[Long, (String, Long)]): Unit = {
    attempted += 1
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    if (bad > 0) {
      failed += 1
      System.err.println(s"[perfbench] cdc state $what: $bad keys differ from the generator fold")
    }
  }

  def run(): Map[String, Any] = {
    val w = a.work
    val gen = new Generator(a.seed)
    val backfillSegs = gen.segments(BackfillEvents, SegmentEvents)
    val liveCount = math.max(1, (a.seconds * LiveShare * 1000 / IntervalMs).toInt)
    // one tick's events, in up to one segment per partition
    val liveTicks = (0 until liveCount).map(_ => gen.segments(LiveEvents, LiveEvents))
    val want = gen.fold

    trace.span("setup") {
      trace.span("warmup") {
        val wg = new Generator(a.seed ^ 0x5eed)
        wg.segments(WarmupEvents, SegmentEvents).foreach(publish(s"$w/warm-log", _))
        val q = pipeline(s"$w/warm-log", s"$w/warm-state", s"$w/warm-ckpt")
        q.processAllAvailable(); q.stop()
        state(s"$w/warm-state")
        CdcStream.compact(spark, s"$w/warm-state", Seq("k"), "__version")
        state(s"$w/warm-state")
      }
      trace.span("preload") { backfillSegs.foreach(publish(s"$w/log", _)) }
    }
    val setupS = Main.jvmUptimeS()
    val log = s"$w/log"; val stateDir = s"$w/state"

    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val (_, backfillS) = trace.timed("backfill") {
      q = pipeline(log, stateDir, s"$w/ckpt")
      q.processAllAvailable()
    }
    attempted += backfillSegs.size

    // Open loop: tick i is due at start + i * IntervalMs whatever the
    // stream is doing; lateness is how far behind schedule it went out.
    val late = new Array[Long](liveCount)
    val due = new Array[Long](liveCount)
    trace.span("live") {
      val start = System.currentTimeMillis() + IntervalMs
      val appender = new Thread(() => {
        liveTicks.zipWithIndex.foreach { case (segs, i) =>
          due(i) = start + i.toLong * IntervalMs
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          segs.foreach(publish(log, _))
          late(i) = System.currentTimeMillis() - due(i)
        }
      }, "perfbench-live-appender")
      appender.start()
      appender.join()
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (!epochsOf(q).exists(covers(_, liveTicks.last)) &&
        System.currentTimeMillis() < deadline && q.isActive)
        Thread.sleep(5)
      q.stop()
    }
    q.exception.foreach { e => failed += 1; System.err.println(s"[perfbench] stream failed: $e") }

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val epochs = epochsOf(q)
    val latencies = liveTicks.zipWithIndex.flatMap { case (segs, i) =>
      attempted += 1
      epochs.find(covers(_, segs)) match {
        case Some(e) => Some((e.receivedMs - due(i)).toDouble)
        case None => failed += 1; None
      }
    }
    val wantChecked = if (a.inject) want.updated(want.keys.min, ("injected", -1L)) else want
    val before = trace.span("read_state")(state(stateDir))
    check("before compaction", before, wantChecked)
    trace.span("compact") {
      CdcStream.compact(spark, stateDir, Seq("k"), "__version")
    }
    check("after compaction", state(stateDir), wantChecked)

    Map("workload" -> a.workload, "setup_s" -> setupS,
      "backfill" -> Map("events" -> BackfillEvents, "wall_s" -> backfillS),
      "generator" -> Map("keys" -> Keys, "zipf_s" -> ZipfS,
        "delete_given_live" -> DeleteGivenLive, "ops" -> gen.ops.toMap),
      "live" -> Map("ticks" -> liveCount, "events_per_tick" -> LiveEvents,
        "interval_ms" -> IntervalMs, "latencies_ms" -> latencies, "late_ms_max" -> late.max),
      "attempted" -> attempted, "failed" -> failed)
  }

  private def epochsOf(q: org.apache.spark.sql.streaming.StreamingQuery) =
    progress.epochs.asScala.toSeq.filter(_.runId == q.runId).sortBy(_.batchId)

  /** Whether an epoch's committed end offsets include every record of `segs`. */
  private def covers(e: Progress.Epoch, segs: Seq[Segment]): Boolean =
    segs.forall(s => e.end.getOrElse(s.partition, 0L) > s.last)
}

object CdcWorkload {
  val Partitions = 4
  /** Key count and update/delete mix of the repository's own CDC event
    * shape, `CdcParity.debeziumEvents`, over orders at sf0.01: one key per
    * order (15,000), an update for every 'O' order (0.332 of them in the
    * reference test data) and a delete for one order in ten. */
  val Keys = 15000
  val UpdateShare = 0.332
  val DeleteShare = 0.10
  /** An event on a live key is a delete with this probability, so that
    * updates and deletes keep that shape's 0.332 : 0.10 ratio. */
  val DeleteGivenLive: Double = DeleteShare / (UpdateShare + DeleteShare)
  /** Key skew: YCSB's default Zipfian constant (Cooper et al., SoCC 2010). */
  val ZipfS = 0.99
  val BackfillEvents = 36000
  val SegmentEvents = 500
  /** Two epochs at `Cap`: with one, the first backfill epoch still ran
    * at twice the steady epoch time (JIT). */
  val WarmupEvents = 8000
  val Cap = 4000L
  val LiveEvents = 50
  val IntervalMs = 50L
  /** Share of the run's seconds spent live. The live p50 rests on the
    * few epochs (~0.7 s each) that run meanwhile, so this phase gets most
    * of the run. */
  val LiveShare = 0.8
  val DrainTimeoutMs = 20000L

  val Physical: StructType = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("n", LongType)))

  /** One log segment: its records and the offset of its last record. */
  final case class Segment(partition: Int, start: Long, lines: Seq[String]) {
    def last: Long = start + lines.size - 1
  }

  /** Publishes a segment atomically: written whole under a name the log
    * ignores, then renamed to `<start>.log`. `LogSource.append` writes
    * in place, so a trigger racing it could read a half-written line. */
  def publish(log: String, seg: Segment): Unit = {
    val dir = Paths.get(log, s"partition=${seg.partition}")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".publish-${seg.start}.tmp")
    Files.write(tmp, seg.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(f"${seg.start}%020d.log"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Seeded debezium-json change events. Each event picks its key from a
    * Zipf(ZipfS) distribution over `Keys` keys; the key's state sets the
    * operation: an absent key is inserted, a live one is deleted with
    * probability `DeleteGivenLive` and updated otherwise. Key k goes to
    * partition k % Partitions, Kafka's per-key order. `fold` is the
    * keep-latest image the stream must converge to. */
  final class Generator(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to Keys).map(r => 1.0 / math.pow(r, ZipfS)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    private val next = new Array[Long](Partitions)
    private val image = mutable.HashMap.empty[Long, (String, Long)]
    private var counter = 0L
    /** The realised operation mix, by debezium op code. */
    val ops: mutable.Map[String, Long] = mutable.TreeMap("c" -> 0L, "u" -> 0L, "d" -> 0L)

    def fold: Map[Long, (String, Long)] = image.toMap

    private def row(k: Long, v: (String, Long)) = s"""{"k":$k,"v":"${v._1}","n":${v._2}}"""

    private def event(k: Long): String = {
      counter += 1
      val now = (s"v$counter", counter)
      val (op, line) = image.get(k) match {
        case None =>
          image(k) = now
          "c" -> s"""{"before":null,"after":${row(k, now)},"op":"c"}"""
        case Some(old) if rng.nextDouble() < DeleteGivenLive =>
          image.remove(k)
          "d" -> s"""{"before":${row(k, old)},"after":null,"op":"d"}"""
        case Some(old) =>
          image(k) = now
          "u" -> s"""{"before":${row(k, old)},"after":${row(k, now)},"op":"u"}"""
      }
      ops(op) += 1
      line
    }

    /** The next `events` change events, routed to their keys' partitions
      * and cut into segments of at most `perSegment` records. */
    def segments(events: Int, perSegment: Int): Seq[Segment] = {
      val byPartition = Array.fill(Partitions)(mutable.ArrayBuffer.empty[String])
      (0 until events).foreach { _ =>
        val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble()) match {
          case i if i >= 0 => i.toLong
          case i => (-i - 1).toLong
        }
        byPartition((k % Partitions).toInt) += event(k)
      }
      byPartition.toSeq.zipWithIndex.flatMap { case (lines, p) =>
        lines.grouped(perSegment).map { g =>
          val seg = Segment(p, next(p), g.toSeq)
          next(p) += g.size
          seg
        }
      }
    }
  }
}
