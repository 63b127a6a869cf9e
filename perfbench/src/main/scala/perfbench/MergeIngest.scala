package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.streaming.Streams

/** `merge_ingest`: seeded incremental-load batches MERGEd into four
  * date-partitioned targets, one per merge path, each merge followed by
  * a rollup read of the target it changed.
  *
  * The batches follow the reference pipeline's daily scrape plus MERGE:
  * each one lands a new day of rows, corrects rows of the two latest
  * days, updates rows in `touch` older date partitions, and every
  * `replayEvery`-th batch replays an earlier batch verbatim. Batches go
  * round-robin to the four targets; at the end each target must equal
  * its own last-write-wins model of the batches it received, kept on the
  * driver independently of the engine's merge code. */
object MergeIngest {
  /** Generator parameters. `touch` is the number of old date partitions
    * a batch updates besides the new day and the two latest days. */
  final case class Params(initialDays: Int = 10, newRows: Int = 400, correctRows: Int = 150,
      touch: Int = 2, lateRows: Int = 50, replayEvery: Int = 6, warmBatches: Int = 1)

  val Arms: Seq[String] = Seq("rename", "manifest", "full", "stream")
  private val Keys = Seq("event_id")
  private val DayUs = 86400L * 1000000L

  /** Driver-side form of one row: timestamps as epoch micros and the
    * partition as an epoch day, so no time-zone conversion is involved. */
  final case class Ev(id: Long, user: Long, etype: String, tsUs: Long, value: Double,
      props: String, day: Int) {
    def row: Row = Row(id, user, etype, tsUs, value, props, day)
  }

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts_us", LongType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("day", IntegerType)))

  val Columns: Seq[String] = Seq("event_id", "user_id", "event_type", "ts", "value", "props", "event_date")

  def frame(spark: SparkSession, rows: Seq[Ev]): DataFrame =
    spark.createDataFrame(rows.map(_.row).asJava, rawSchema).select(
      col("event_id"), col("user_id"), col("event_type"),
      timestamp_micros(col("ts_us")).as("ts"), col("value"), col("props"),
      date_from_unix_date(col("day")).as("event_date"))

  /** Count and an order-independent content hash of a target's rows. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(Columns.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(Columns.map(col): _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Seeded batch generator over the last-write-wins model it keeps.
    * New days are drawn from the rows of the initial load. */
  final class Generator(val initial: IndexedSeq[Ev], p: Params, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val firstDay = initial.map(_.day).min
    val model = mutable.HashMap[Long, Ev]()
    private val byDay = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    private val history = mutable.ArrayBuffer[Seq[Ev]]()
    private var nextId = initial.map(_.id).max + 1
    apply(initial)

    private def apply(rows: Seq[Ev]): Unit = rows.foreach { e =>
      if (!model.contains(e.id)) byDay.getOrElseUpdate(e.day, mutable.ArrayBuffer()) += e.id
      model(e.id) = e
    }

    private def update(id: Long, batch: Int): Ev = {
      val e = model(id)
      e.copy(value = math.round((e.value * 1.05 + 1.0) * 100) / 100.0,
        props = s"""{"k": ${rnd.nextInt(100)}, "b": $batch}""")
    }

    private def pick(day: Int, n: Int): Seq[Long] = {
      val ids = byDay.getOrElse(day, mutable.ArrayBuffer[Long]())
      rnd.shuffle(ids.indices.toVector).take(n).map(ids)
    }

    /** Batch `k`, k >= 1, applied to the model before it is returned. */
    def batch(k: Int): Seq[Ev] = {
      val rows =
        if (k % p.replayEvery == 0 && k > 3) history(k - 4)
        else {
          val day = firstDay + p.initialDays - 1 + k
          val fresh = (0 until p.newRows).map { _ =>
            val t = initial(rnd.nextInt(initial.size))
            val e = t.copy(id = nextId, tsUs = day.toLong * DayUs + Math.floorMod(t.tsUs, DayUs), day = day)
            nextId += 1
            e
          }
          val recent = Seq(day - 1, day - 2).flatMap(d => pick(d, p.correctRows / 2))
          val old = rnd.shuffle((firstDay until day - 2).toVector).take(p.touch)
            .flatMap(d => pick(d, p.lateRows))
          fresh ++ (recent ++ old).map(update(_, k))
        }
      history += rows
      apply(rows)
      rows
    }
  }

  private def dirBytes(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(_.toString.endsWith(".parquet")).toLong)
    }
  }

  def run(spark: SparkSession, cfg: RunConfig, rec: Recorder, stalls: StallTicker,
      out: mutable.Map[String, Any]): (Double, Double) = {
    val p = Params()
    val events = graft.Tables.events(spark, cfg.corpus)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("value"), col("props"), unix_date(to_date(col("ts"))))
      .collect().map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getString(5), r.getInt(6)))
      .sortBy(_.id)
    val lastInitialDay = events.map(_.day).min + p.initialDays
    val initial = events.filter(_.day < lastInitialDay).toIndexedSeq
    // one generator, and so one model, per target: batches go
    // round-robin, batch k of a target coming from that target's own
    // seeded generator
    val gens = Arms.zipWithIndex.map { case (a, i) =>
      a -> new Generator(initial, p, cfg.seed * Arms.size + i)
    }.toMap
    val batches = mutable.Map(Arms.map(_ -> 0): _*)
    val path = Arms.map(a => a -> s"${cfg.work}/targets/$a").toMap
    val landing = s"${cfg.work}/landing"
    val ckpt = s"${cfg.work}/checkpoint"

    def merge(arm: String, rows: Seq[Ev]): Long = arm match {
      case "rename" => Upsert.mergePartitionedPath(spark, path(arm), frame(spark, rows), Keys, "event_date")
      case "manifest" => Upsert.mergePartitionedManifest(spark, path(arm), frame(spark, rows), Keys, "event_date")
      case "full" => Upsert.mergeIntoPath(spark, path(arm), frame(spark, rows), Keys)
      case "stream" =>
        Streams.upsertSink(spark.readStream.schema(frame(spark, Nil).schema).parquet(landing),
            path(arm), ckpt, Keys, Some("event_date"))
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        rows.size.toLong
    }
    def read(arm: String): DataFrame =
      if (arm == "manifest") Upsert.readManifest(spark, path(arm)) else spark.read.parquet(path(arm))

    def step(arm: String, rows: Seq[Ev], phase: String, thenRead: Boolean = true): Unit = {
      // the stream arm's input arrives as a landed file
      if (arm == "stream") frame(spark, rows).write.mode("append").parquet(landing)
      rec.op(s"merge.$arm", phase) { r =>
        r("src_rows") = rows.size
        r("rows") = merge(arm, rows)
      }
      if (thenRead) rec.op(s"read.$arm", phase) { r =>
        r("rows") = read(arm).groupBy(col("event_date"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("v")).collect().length.toLong
      }
    }
    def next(arm: String): Unit = {
      batches(arm) += 1
      step(arm, gens(arm).batch(batches(arm)), if (batches(arm) <= p.warmBatches) "cold" else "warm")
    }

    Arms.foreach(a => step(a, gens(a).initial, "cold", thenRead = false))
    for (_ <- 1 to p.warmBatches; a <- Arms) next(a)
    // whole rotations only, so every target has the same number of
    // timed merges and the pooled statistics do not depend on where
    // the deadline fell
    val stallsSeen = Main.timed(cfg, rec, stalls) { Arms.foreach(next) }
    rec.setTracing(false)

    val models = Arms.map(a => a -> frame(spark, gens(a).model.values.toSeq)).toMap
    out("checks") = Arms.map { arm =>
      val expected = fingerprint(models(arm))
      val (n, h) = scala.util.Try(fingerprint(read(arm))).getOrElse((-1L, "error"))
      Map("name" -> s"target.$arm", "count" -> n, "hash" -> h,
        "expected_count" -> expected._1, "expected_hash" -> expected._2)
    }
    // the layout measures below feed only the traced run's metrics
    if (cfg.trace) out("merge") = Arms.map { arm =>
      val plain = s"${cfg.work}/plain/$arm"
      models(arm).write.parquet(plain)
      val (bytes, files) = dirBytes(path(arm))
      arm -> Map("batches" -> batches(arm), "model_rows" -> gens(arm).model.size,
        "plain_bytes" -> dirBytes(plain)._1, "target_bytes" -> bytes, "target_files" -> files)
    }.toMap
    stallsSeen
  }
}
