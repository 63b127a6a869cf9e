package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Settings of one run, passed by run.py as `--key value` pairs. */
final case class RunConfig(workload: String, seed: Long, seconds: Double, trace: Boolean,
    corpus: String, work: String, out: String, entries: Seq[String])

/** Records one closed-loop operation at a time: its span on the shared
  * clock, a job group that tags every Spark job it starts, and in
  * traced rounds the process-counter deltas across it. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  /** Timed round the next ops belong to; -1 before the timed section. */
  var round = -1
  private var tracing = tracer.isDefined

  /** Traced and untraced rounds alternate inside a traced run, so the
    * tracing overhead is measured on the same inputs in one process. */
  def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on && !tracing) t.attach()
    if (!on && tracing) t.detach()
    tracing = on
  }

  def op(name: String, phase: String)(body: mutable.Map[String, Any] => Unit): Boolean = {
    val id = s"op${ops.size}"
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> name, "phase" -> phase,
      "traced" -> tracing, "round" -> round)
    val before = if (tracing) tracer.map(_.counters()) else None
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    rec("t0") = Clock.nowMs
    try body(rec)
    catch {
      case NonFatal(e) =>
        rec("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      rec("t1") = Clock.nowMs
      spark.sparkContext.clearJobGroup()
      before.foreach { b =>
        val after = tracer.get.counters()
        rec("counters") = after.map { case (k, v) => k -> (v - b(k)) }
      }
    }
    ops += rec
    !rec.contains("error")
  }
}

object Main {
  def parse(args: Array[String]): RunConfig = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    RunConfig(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("corpus"), a("work"), a("out"),
      a.getOrElse("entries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** Engine warm-up shared by every workload: the same two queries
    * graft.Bench runs before its passes. */
  private def warmUp(spark: SparkSession, corpus: String): Unit = {
    spark.range(1000000).selectExpr("sum(id) as s", "count(distinct id % 7) as d").collect()
    graft.Tables.lineitem(spark, corpus).limit(1000).groupBy("l_returnflag").count().collect()
  }

  /** Builds the session `SetUps` times, stopping all but the last, so
    * set-up time is a median over several builds in one process. The
    * first build's time counts from JVM start. The second and third
    * builds still run 20-50% slower while the JIT catches up, so the
    * median of seven rests on settled builds. */
  private val SetUps = 7

  private def setUp(cfg: RunConfig): (SparkSession, Seq[Map[String, Double]]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    val times = (1 to SetUps).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStartMs else Clock.nowMs
      val b0 = Clock.nowMs
      spark = graft.Sessions.build("perfbench")
      val b1 = Clock.nowMs
      warmUp(spark, cfg.corpus)
      val t1 = Clock.nowMs
      Map("t0" -> t0, "t1" -> t1, "total_s" -> (t1 - t0) / 1e3, "build_s" -> (b1 - b0) / 1e3,
        "warm_s" -> (t1 - b1) / 1e3)
    }
    (spark, times)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val stalls = new StallTicker()
    stalls.start()
    val (spark, setups) = setUp(cfg)
    val setUpEndMs = Clock.nowMs
    val rec = new Recorder(spark, if (cfg.trace) Some(new Tracer(spark)) else None)
    rec.tracer.foreach(_.attach())
    val extra = mutable.LinkedHashMap[String, Any]()
    val (timedStall0, timedStall1) = cfg.workload match {
      case "stakeholder" => EntryWorkload.run(spark, cfg, rec, stalls)
      case "merge_ingest" => MergeIngest.run(spark, cfg, rec, stalls, extra)
      case w => sys.error(s"unknown workload $w")
    }
    val workloadEndMs = Clock.nowMs
    rec.setTracing(false)
    val heapMb = retainedHeapMb()
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "cores" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setups" -> setups, "ops" -> rec.ops, "heap_retained_mb" -> heapMb,
      "stall_s" -> stalls.stallS, "timed_stall_s" -> (timedStall1 - timedStall0),
      "marks_ms" -> Map("jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "set_up_end" -> setUpEndMs, "workload_end" -> workloadEndMs, "record" -> Clock.nowMs))
    record ++= extra
    rec.tracer.foreach(t => record("trace_events") = t.dump())
    Files.writeString(Paths.get(cfg.out), Json(record))
    stalls.halt()
    spark.stop()
  }

  /** Heap in use once garbage stops shrinking: Spark's ContextCleaner
    * frees broadcast and shuffle state only after a GC has cleared the
    * weak references to it, so one System.gc() leaves a varying amount
    * of dead state behind. */
  private def retainedHeapMb(): Double = {
    def used = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used
    var cur = used
    var i = 0
    while (math.abs(prev - cur) > (1L << 20) && i < 8) { prev = cur; cur = used; i += 1 }
    cur / 1048576.0
  }

  /** Closed loop over whole rounds until `seconds` have passed.
    * Returns the stall total at the start and end of the timed section.
    *
    * A traced run alternates untraced and traced rounds, U T U T ... U,
    * and runs past the deadline until it has at least three rounds and
    * ends on an untraced one, so every traced round has an untraced
    * round on each side to be compared with. */
  def timed(cfg: RunConfig, rec: Recorder, stalls: StallTicker)(round: => Unit): (Double, Double) = {
    val s0 = stalls.stallS
    val deadline = Clock.nowMs + cfg.seconds * 1000
    val traced = rec.tracer.isDefined
    var r = 0
    while (Clock.nowMs < deadline || (traced && (r < 3 || r % 2 == 0))) {
      rec.round = r
      rec.setTracing(traced && r % 2 == 1)
      round
      r += 1
    }
    (s0, stalls.stallS)
  }
}

/** `stakeholder`: catalog entries called through SparkEntry.queries,
  * each op one entry's construction plus count(). A cold pass runs every
  * entry once, two warm-up rounds follow, and timed rounds then repeat
  * the same set, each round in a new seeded order. */
object EntryWorkload {
  def run(spark: SparkSession, cfg: RunConfig, rec: Recorder, stalls: StallTicker): (Double, Double) = {
    val all = graft.SparkEntry.queries
    val missing = cfg.entries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")
    require(cfg.entries.nonEmpty, "no entries given")
    val rnd = new scala.util.Random(cfg.seed)
    def one(name: String, phase: String): Unit = rec.op(name, phase) { r =>
      val t0 = System.nanoTime()
      val df = all(name)(spark, cfg.corpus)
      val t1 = System.nanoTime()
      r("t_built") = Clock.nowMs
      r("rows") = df.count()
      r("build_s") = (t1 - t0) / 1e9
      r("exec_s") = (System.nanoTime() - t1) / 1e9
    }
    // the cold pass sets the JIT profile the rest of the run lives with,
    // so it runs in one fixed order (graft.Bench's, by name); the seed
    // orders the timed rounds
    cfg.entries.sorted.foreach(one(_, "cold"))
    // ops keep speeding up for a few rounds after the cold pass (JIT):
    // after one warm-up round the next still ran 25-40% slower than
    // the rounds after it, so two rounds are warm-up, timed but in no
    // metric
    for (_ <- 1 to 2) rnd.shuffle(cfg.entries).foreach(one(_, "warmup"))
    Main.timed(cfg, rec, stalls) { rnd.shuffle(cfg.entries).foreach(one(_, "warm")) }
  }
}

/** Writes SparkEntry.oracleSql as one JSON object (entry → DuckDB SQL)
  * for oracle_counts.py. */
object DumpOracles {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json(graft.SparkEntry.oracleSql))
}
